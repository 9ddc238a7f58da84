package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Count-min sketch heavy hitters — the frequency-estimation sketch
  * next to [[KMV]] (distinct count) and the HLL++/quantile built-ins.
  *
  * Shape at 100 TB: the sketch is a `depth × width` counter grid built
  * in ONE shuffle (explode depth rows per record → groupBy (row,
  * bucket) → count) whose size is O(depth·width) — constant, tiny,
  * broadcastable — regardless of input size or key cardinality. The
  * estimate for a key is min over rows of its bucket counter
  * (overestimates only, never under). The heavy-hitter query then
  * joins candidate keys against the broadcast grid instead of
  * computing exact per-key counts — the point of the sketch when the
  * key space is too large to group exactly.
  *
  * Hashing is md5-based (row-salted) so the DuckDB oracle reproduces
  * the grid bit-for-bit, like every sketch in this engine — even the
  * *approximate* answers are deterministic and cross-engine exact.
  */
object CountMin {

  private val Depth = 3
  private val Width = 64
  private val Threshold = 40 // estimated-count cutoff for "heavy"
  // q100's join-size grid: sized by the ε = e/width rule (see q100 doc)
  private val JoinDepth = 5
  private val JoinWidth = 16384

  /** bucket expression for hash row `i` over string column `k` (Spark). */
  private def bucket(i: Int, k: String, width: Int = Width): String =
    s"cast(conv(substr(md5(concat('$i:', $k)), 1, 8), 16, 10) as bigint) % $width"

  private def oracleBucket(i: Int, k: String, width: Int = Width): String =
    s"('0x' || substr(md5('$i:' || $k), 1, 8))::BIGINT % $width"

  /** The sketch grid for a key expression: (row, bucket, cnt). */
  def sketch(df: DataFrame, keyExpr: String,
             depth: Int = Depth, width: Int = Width): DataFrame = {
    val rows = (0 until depth).map { i =>
      s"struct($i as row, ${bucket(i, keyExpr, width)} as bucket)"
    }.mkString(", ")
    df.select(explode(expr(s"array($rows)")).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** q29 — heavy users by count-min estimate: every distinct user
    * joined against the broadcast grid, estimate = min over rows,
    * kept when >= [[Threshold]]. Each key's `Depth` probes come from
    * one generate over the distinct keys, the same explode shape the
    * grid is built with. Exact count included for the oracle
    * to prove the over-estimate invariant holds on both engines.
    */
  val q29CountminHeavy: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(expr("cast(user_id as string)").as("k"))
    val grid = sketch(ev, "k")
    val keys = ev.distinct()
    val probes = keys.select(col("k"), inline(array((0 until Depth).map { i =>
      struct(lit(i).as("row"), expr(bucket(i, "k")).as("bucket"))
    }: _*)))
    probes.join(broadcast(grid), Seq("row", "bucket"))
      .groupBy("k")
      .agg(min("cnt").as("est"))
      .filter(col("est") >= Threshold)
      .select(expr("cast(k as bigint)").as("user_id"), col("est"))
  }

  val q29CountminHeavySql: String = {
    val grids = (0 until Depth).map { i =>
      s"SELECT $i AS row, ${oracleBucket(i, "k")} AS bucket, count(*) AS cnt FROM ev GROUP BY 1, 2"
    }.mkString("\n      UNION ALL ")
    val probes = (0 until Depth).map { i =>
      s"SELECT k, $i AS row, ${oracleBucket(i, "k")} AS bucket FROM (SELECT DISTINCT k FROM ev)"
    }.mkString("\n      UNION ALL ")
    s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    grid AS (
      $grids),
    probes AS (
      $probes)
    SELECT CAST(k AS BIGINT) AS user_id, min(cnt) AS est
    FROM probes JOIN grid USING (row, bucket)
    GROUP BY 1 HAVING min(cnt) >= $Threshold"""
  }

  /** q100 — join-size estimation from two count-min sketches (the
    * AMS/Cormode-Muthukrishnan inner-product estimator): |A ⋈_k B| =
    * Σ_k f_A(k)·f_B(k), estimated as min over hash rows of
    * Σ_bucket CM_A[row][b] · CM_B[row][b]. Overestimates only —
    * colliding keys add non-negative cross terms — so the error
    * column is a clean non-negative div.
    *
    * This is the optimizer-statistics use case: decide whether a
    * 100 TB fact-fact join is feasible BEFORE running it, from two
    * constant-size (depth×width) grids each built in one map-combined
    * pass — the sketches ship in a few KB while the tables never
    * co-locate. The true join count rides along as the honesty column
    * (s8/d18's pattern); a production estimate-only run skips it.
    *
    * Estimated here: events ⋈ orders on user_id = o_custkey — the
    * many-to-many shape (per-user event count × order count) where
    * naive row-count heuristics are off by the fanout product and
    * the inner product is exactly right.
    *
    * WIDTH IS THE ACCURACY CONTRACT: expected collision noise per row
    * is ~‖f_A‖₁·‖f_B‖₁/width (ε = e/width in the classic bound), so a
    * join-size sketch is sized until ε·|A|·|B| ≲ the answer you need
    * to distinguish — q29's 64 buckets estimated this join 25× over;
    * 5×16384 (a few hundred KB, still one broadcast) lands within a
    * few percent. That sizing rule IS the lesson of this query.
    */
  val q100JoinSizeSketch: (SparkSession, String) => DataFrame = (s, dir) => {
    val a = Tables.load(s, dir, "events")
      .select(expr("cast(user_id as string)").as("k"))
    val b = Tables.load(s, dir, "orders")
      .select(expr("cast(o_custkey as string)").as("k"))
    val (d, w) = (JoinDepth, JoinWidth)
    val ip = sketch(a, "k", d, w).withColumnRenamed("cnt", "ca")
      .join(sketch(b, "k", d, w).withColumnRenamed("cnt", "cb"), Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min("ip").as("est_rows"))
    val actual = a.join(b, "k").agg(count(lit(1)).as("actual_rows"))
    actual.crossJoin(broadcast(ip))
      .select(col("actual_rows"), col("est_rows"),
        expr("(est_rows - actual_rows) * 10000 div actual_rows").as("over_bp"))
  }

  val q100JoinSizeSketchSql: String = {
    def grid(src: String) = (0 until JoinDepth).map { i =>
      s"SELECT $i AS row, ${oracleBucket(i, "k", JoinWidth)} AS bucket, count(*) AS cnt FROM $src GROUP BY 1, 2"
    }.mkString("\n      UNION ALL ")
    s"""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    b AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
    ga AS (
      ${grid("a")}),
    gb AS (
      ${grid("b")}),
    ip AS (
      SELECT ga.row, CAST(SUM(ga.cnt * gb.cnt) AS BIGINT) AS ip
      FROM ga JOIN gb ON ga.row = gb.row AND ga.bucket = gb.bucket
      GROUP BY ga.row),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_rows FROM ip),
    act AS (SELECT count(*) AS actual_rows FROM a JOIN b USING (k))
    SELECT actual_rows, est_rows,
           (est_rows - actual_rows) * 10000 // actual_rows AS over_bp
    FROM act CROSS JOIN est"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q29_countmin_heavy" -> q29CountminHeavy,
      "q100_join_size_sketch" -> q100JoinSizeSketch)
  val oracleSql: Map[String, String] =
    Map("q29_countmin_heavy" -> q29CountminHeavySql,
      "q100_join_size_sketch" -> q100JoinSizeSketchSql)
}
