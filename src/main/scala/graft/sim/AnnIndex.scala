package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.LongArrayDot

/** The scoring geometry of a persisted [[AnnIndex]]. Both metrics ride
  * the same codegen'd integer dot product ([[LongArrayDot]]) plus the
  * stored squared norms, so the hot loop is identical — only the
  * combination and the sort direction differ:
  *
  *  - [[AnnMetric.Cosine]]: `dot / √(n2a·n2b)`, higher is better — the
  *    embeddings space (s5/s6/s12).
  *  - [[AnnMetric.L2]]: exact integer `‖a−b‖² = n2a + n2b − 2·dot`,
  *    lower is better — the media space (m7's cross-modal IVF), kept
  *    in int64 end-to-end so served ranks hash-match the oracle.
  *
  * Ties always break to the smaller id, in both metrics and at every
  * stage (centroid election, cell assignment, probe order, rank).
  */
sealed abstract class AnnMetric(val name: String) {
  /** Score from the dot product and the two squared norms. */
  def score(dot: Column, n2a: Column, n2b: Column): Column
  /** Better-first sort key for [[score]]'s output. */
  def betterFirst(s: Column): Column
  /** Column name the serve surface exposes for the score. */
  def scoreCol: String
}

object AnnMetric {
  case object Cosine extends AnnMetric("cosine") {
    def score(dot: Column, n2a: Column, n2b: Column): Column =
      Similarity.cosine(dot, n2a, n2b)
    def betterFirst(s: Column): Column = s.desc
    def scoreCol: String = "cos_sim"
  }
  case object L2 extends AnnMetric("l2") {
    def score(dot: Column, n2a: Column, n2b: Column): Column =
      n2a + n2b - lit(2L) * dot
    def betterFirst(s: Column): Column = s.asc
    def scoreCol: String = "dist2"
  }
  def of(n: String): AnnMetric = Seq(Cosine, L2).find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"unknown ANN metric: $n"))
}

/** Persisted IVF index lifecycle — the SERVING shape of s5/s6/s12 and
  * (round-9) m7's media space: build once, store as tables, answer
  * query batches from the stored index without touching raw vectors
  * again. The inline queries recompute centroids and assignments per
  * run (right for the oracle gate); a production retrieval tier
  * amortizes that: the index is a data artifact with its own build
  * cadence, and query traffic only ever reads it.
  *
  * Layout: `centroids` (one small parquet — broadcast at query time),
  * `postings` PARTITIONED BY cell — a query batch that probes a
  * subset of cells prunes the postings scan to exactly those cells'
  * directories (dynamic partition pruning over the cell join; literal
  * cell predicates prune statically) — and a `_metric` marker so the
  * index knows its own geometry (an L2 index served with cosine
  * ranking would be silently wrong; the marker makes the serve path
  * self-describing). That directory-level pruning is the on-disk
  * analogue of s5's cell-keyed join, and it is what makes serving
  * cost ∝ probed cells, not corpus size.
  *
  * Build rules are s5's exactly (same centroid election, same
  * integer-quantized vectors, same tie-breaks); AnnIndexSpec pins
  * served-vs-inline parity row-for-row plus the pruning, on both the
  * embedding (cosine) and media (L2) spaces.
  */
object AnnIndex {

  /** Centroid election: every `CellMod`-th id is a centroid — the s5
    * rule, shared with m7's media space. */
  private val CellMod = 125

  /** Build the IVF index from the embeddings table into `indexDir`:
    * one corpus×centroids assignment pass (s5's), then postings are
    * laid out by cell. */
  def build(s: SparkSession, sfDir: String, indexDir: String): Unit =
    buildFrom(Similarity.quantized(s, sfDir), indexDir)

  /** Build from an explicit quantized corpus `(vec_id, label, qv,
    * n2)` — the arbitrary-vector-source entry point (round-8 verdict
    * #4): the embeddings table, a corpus subset (the append==rebuild
    * equivalence spec), or m7's media vectors with `metric = L2`. */
  def buildFrom(corpus: DataFrame, indexDir: String,
                metric: AnnMetric = AnnMetric.Cosine): Unit = {
    val centroids = corpus.filter(col("vec_id") % CellMod === 0)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
        col("n2").as("c_n2"))
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids")
    assign(corpus, centroids, metric).write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/postings")
    val p = new Path(indexDir, "_metric")
    graft.io.Sidecar.write(
      p.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration), p, metric.name)
  }

  /** The stored index's own geometry (absent marker = cosine, the
    * pre-marker layout). */
  def metricOf(s: SparkSession, indexDir: String): AnnMetric = {
    val p = new Path(indexDir, "_metric")
    graft.io.Sidecar.read(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
      .fold[AnnMetric](AnnMetric.Cosine)(m => AnnMetric.of(m.trim))
  }

  /** s5's assignment generalized over the metric: each vector to its
    * best-scoring centroid, ties to the smaller centroid id. */
  private def assign(corpus: DataFrame, centroids: DataFrame,
                     metric: AnnMetric): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(metric.betterFirst(col("c_score")), col("c_id"))
    corpus.join(broadcast(centroids))
      .withColumn("c_score", metric.score(
        LongArrayDot.dot(col("qv"), col("c_qv")), col("n2"), col("c_n2")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("qv"), col("n2"),
        col("c_id").as("cell"))
  }

  /** Index maintenance: assign `newVectors` (quantized rows —
    * vec_id, label, qv, n2) into the EXISTING cells and append to
    * their posting partitions. Centroids are immutable under append
    * (the IVF contract: cell geometry changes only on rebuild), so an
    * appended index answers queries exactly as a rebuild over the
    * union would — provided the rebuild would elect the same
    * centroids (AnnIndexSpec pins that equivalence). Appends add one
    * file per touched cell per batch; `io/Compaction
    * .compactPartitions(_, s"$$indexDir/postings", "cell")` folds
    * them back to target-sized files without a shuffle, one bounded
    * partition-sized job at a time.
    */
  /** The append == rebuild precondition, checkable without throwing:
    * the batch elects no centroids (id rule) and collides with no
    * stored vec_id (which would duplicate posting rows against a
    * rebuild over a clean union). Both checks are batch-sized — one
    * scan of the batch, one pruned-column probe of the postings with
    * the batch's distinct ids broadcast. Merge paths branch on this;
    * the direct [[append]] keeps its loud require. */
  def canAppend(s: SparkSession, indexDir: String,
                newVectors: DataFrame): Boolean =
    newVectors.filter(col("vec_id") % CellMod === 0).isEmpty &&
      s.read.parquet(s"$indexDir/postings").select("vec_id")
        .join(broadcast(newVectors.select("vec_id").distinct()),
          Seq("vec_id"), "left_semi")
        .isEmpty

  def append(s: SparkSession, indexDir: String, newVectors: DataFrame): Unit = {
    // append == rebuild only while the batch carries no
    // centroid-eligible ids (a rebuild over the union would elect a
    // different cell geometry). The precondition is cheap to CHECK —
    // one scan of the small batch — so violating batches fail loudly
    // here instead of silently diverging from a rebuild (round-8
    // advice).
    require(newVectors.filter(col("vec_id") % CellMod === 0).isEmpty,
      s"append batch contains centroid-eligible ids (vec_id % $CellMod == 0): " +
        "a rebuild would elect different cells — rebuild the index instead")
    val centroids = s.read.parquet(s"$indexDir/centroids")
    assign(newVectors, centroids, metricOf(s, indexDir))
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/postings")
  }

  /** The CANDIDATE stage alone: for a query batch `(query_id, qv,
    * n2)`, every posting in each query's `nprobe` best cells, scored
    * — `(query_id, cell, vec_id, label, <scoreCol>)`, no ranking, no
    * self-exclusion. This is the reusable seam consumers with their
    * own ranking semantics build on (m7 ranks ALL candidates against
    * an external true-distance; [[query]] takes top-k). Cost ∝
    * nprobe × cell size: the postings scan prunes to exactly the
    * probed cells' directories. */
  def candidates(s: SparkSession, indexDir: String, queries: DataFrame,
                 nprobe: Int): DataFrame = {
    val metric = metricOf(s, indexDir)
    val centroids = s.read.parquet(s"$indexDir/centroids")
    val postings = s.read.parquet(s"$indexDir/postings")
    val wProbe = Window.partitionBy("query_id")
      .orderBy(metric.betterFirst(col("c_score")), col("c_id"))
    val probed = queries.join(broadcast(centroids))
      .withColumn("c_score", metric.score(
        LongArrayDot.dot(col("qv"), col("c_qv")), col("n2"), col("c_n2")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv").as("q_qv"), col("n2").as("q_n2"),
        col("c_id").as("cell"))
    probed.join(postings, Seq("cell"))
      .withColumn(metric.scoreCol, metric.score(
        LongArrayDot.dot(col("q_qv"), col("qv")), col("q_n2"), col("n2")))
      .select(col("query_id"), col("cell"), col("vec_id"), col("label"),
        col(metric.scoreCol))
  }

  /** Serve a query batch `(query_id, qv, n2)` from the stored index:
    * top-`k` neighbors per query by the index's metric, probing each
    * query's `nprobe` best cells — the production recall/cost knob
    * (nprobe=1 is s5's plan, nprobe=2 reproduces s6's multiprobe;
    * candidates stay duplicate-free across probed cells because each
    * vector lives in exactly one cell). `excludeSelf` drops the
    * candidate whose id equals the query id — right when queries are
    * drawn from the corpus (the s-family), wrong when the same-id row
    * IS the sought partner (m7's cross-modal space).
    */
  def query(s: SparkSession, indexDir: String, queries: DataFrame,
            k: Int, nprobe: Int = 1, excludeSelf: Boolean = true): DataFrame = {
    val metric = metricOf(s, indexDir)
    val wRank = Window.partitionBy("query_id")
      .orderBy(metric.betterFirst(col(metric.scoreCol)), col("vec_id"))
    val cand = candidates(s, indexDir, queries, nprobe)
    (if (excludeSelf) cand.filter(col("query_id") =!= col("vec_id")) else cand)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cell"), col("rank"),
        col("vec_id").as("neighbor_id"), col(metric.scoreCol))
  }
}
