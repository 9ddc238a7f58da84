package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.core.Sessions
import graft.pipeline.QueryMetrics

/** Audit every registry query's physical plan for scale red flags
  * ([[verdict]]): cartesian products, nested-loop joins that aren't the
  * declared brute-force baselines, and partition-less windows beyond a
  * query's bounded allowance. Prints a one-line verdict per query.
  */
object PlanAudit {
  // brute-force-by-design: non-equi join is the point; q37's cross is
  // the gap-fill spine (types × hours), q36's is the name-vocabulary
  // levenshtein matrix (vocab² DP pairs) — both bounded by dimension
  // cardinality, not data volume; their data-sized joins are equi
  // ...and q39's corpus-stats frame is ONE row broadcast-crossed in
  // ...s6 shares s5's corpus×centroid assignment cross (centroid set
  // is tiny and broadcast; bounded by centroid count, not data volume)
  // ...k4's is its one-row corpus-size frame, q39's exact pattern
  // ...q50/q52/c7 broadcast-cross a ONE-ROW global aggregate (total /
  // (sum,n) average / (Σweight, Σdocs)) into the big side — the
  // scalar-subquery shape, bounded at exactly one row
  // ...s8 embeds s1's declared brute-force baseline as its truth side;
  // q68's crosses are its one-row midpoint/totals scalars
  // ...k5/q73 cross their one-row corpus/basket-count frames; q72
  // crosses its one-row max-date anchor — all the same scalar shape
  // ...t9 crosses its one-row vocabulary-size frame (the add-one
  // smoothing denominator), q39's exact pattern
  // ...s9's query×corpus scan is the declared quantized-scan member
  // of the ANN family (s1's shape, 8× cheaper bytes; composes with
  // IVF for the candidate-bounded production path)
  // ...v1/v2 left-join each merge round's ONE-row winner into the
  // vocab (guarded against the empty degenerate round) — the same
  // broadcast-scalar shape as q39/t9's stats rows, 3 rounds of it
  // ...c11 crosses its one-row Σweight total (c7's exact pattern);
  // s11 crosses the ONE-row packed k-means codebook (k·dim longs)
  // into the vector stream — the broadcast-codebook map E-step
  private val expectedNestedLoop =
    Set("s1_cosine_topk", "s5_ivf_ann", "s6_multiprobe_ann",
      "q37_gap_fill", "q36_fuzzy_pairs", "q39_bm25", "k4_tfidf",
      "q50_value_concentration", "q52_idle_rich", "c7_temperature_mix",
      "s8_ann_recall", "q68_drift_report",
      "k5_pmi_collocations", "q72_rfm", "q73_basket_lift",
      "t9_lm_score", "s9_sq_ann", "v1_bpe_merges", "v2_bpe_tokenize",
      "c11_token_budget_mix", "s11_kmeans",
      // d19 rides the same one-row packed-codebook crossJoins as s11;
      // g5 crosses each half-round's ONE-row max for L∞ normalization;
      // k7 crosses its one-row corpus-total (q39's scalar shape)
      // s12 reuses s5's bounded corpus x centroid-set assignment cross
      "d19_semdedup", "g5_hits", "k7_chi2_keywords", "s12_ivf_pq",
      // s13 reuses s5's bounded corpus x centroid-set assignment cross
      // (centroid count is a constant fraction, broadcast by design)
      "s13_filtered_ann",
      // c15 crosses two ONE-row scalar frames (corpus totals, the
      // water-level prefix stats) into the |sources|-row allocation —
      // q39/c11's broadcast-scalar shape
      "c15_waterfill_budget",
      // q88 crosses its one-row max(ts) anchor (q39's scalar shape)
      "q88_decay_score",
      // q89 crosses its one-row trigram total (q39's scalar shape)
      "q89_seq_patterns",
      // c17 crosses its one-row kept-token total into the |sources|-row
      // mixture frame (q39/c11's broadcast-scalar shape)
      "c17_effective_mix",
      // d25 crosses its one-row doc-count threshold into the chunk-df
      // frame (the same broadcast-scalar shape)
      "d25_boilerplate_strip",
      // s16 rides s5's bounded corpus x centroid-set assignment cross
      // (the same broadcast-centroids shape as s5/s12/s13)
      "s16_label_audit",
      // d22 crosses three ONE-row pair-count scalars (q39's shape)
      "d22_cluster_agreement",
      // s14's candidate stage is s1's declared brute-force baseline
      // (broadcast query block x corpus) below the kNN vote
      "s14_knn_classify",
      // s15's candidate stage is the same s1 baseline; the pair grid
      // and greedy steps run on the 10-per-query bounded frame
      "s15_mmr_rerank",
      // t14 crosses its one-row corpus count (q39's scalar shape)
      "t14_burstiness",
      // q95 crosses its one-row order-count total into the 9-row
      // digit frame (q39's broadcast-scalar shape)
      "q95_benford",
      // t15 crosses its one-row max-doc-id anchor into the doc and
      // vocab grains for decile tagging (q88's anchor shape)
      "t15_heaps_law",
      // c18 crosses its one-row totals into the |sources|-row mixture
      // frame (c7's exact pattern)
      "c18_mix_kl",
      // g11 crosses its one-row edge-count scalar into the
      // |communities|-row frame (q39's shape)
      "g11_modularity",
      // s17 embeds s1's declared brute-force baseline (the curve's
      // ground truth) + s5's bounded centroid-assignment cross, and
      // crosses its one-row n_queries scalar into the 4-row curve
      "s17_recall_curve",
      // q97 crosses its one-row count + the two ONE-row quantile
      // frames (est, exact) — q39's broadcast-scalar shape
      "q97_hdr_quantiles",
      // q98's whole set algebra is three ONE-row frames (sketch a,
      // sketch b, exact counts) crossed into a single row
      "q98_kmv_setops",
      // m6's candidate stage is s1's declared brute-force baseline
      // (broadcast query batch × corpus); scale path = s5/s12 IVF
      "m6_crossmodal_recall",
      // m7 IS that scale path, served (r9) from the snapshot media
      // index: the remaining cross is the query-batch × broadcast
      // centroid probe (bounded |q|×|centroids|, s5's shape) — corpus
      // assignment happens at index BUILD, off the query plan; the
      // candidate stage itself is a cell-keyed equi-join, never a cross
      "m7_crossmodal_ivf",
      // q100 crosses its one-row actual-count and one-row estimate
      // frames into a single output row (q39's scalar shape)
      "q100_join_size_sketch")

  /** Partition-less windows bounded by construction, per query: the
    * window runs over a grain capped by a constant (never the data),
    * so its `Exchange SinglePartition` moves a bounded handful of
    * rows. DistributedRank's SPARK_PARTITION_ID offsets windows are
    * auto-exempted structurally by [[PlanCheck]]; everything listed
    * here carries its bound in the comment. Exceeding the allowance
    * (e.g. reintroducing a corpus-grain ntile) flags the query.
    */
  val boundedPartitionlessWindows: Map[String, Int] = Map(
    // lag(1) over the yearly aggregate — |years| rows (≈7 in the
    // corpus, decades at most), judged "bounded grain, fine" in r4
    "q74_yoy_growth" -> 1,
    // cumulative revenue over the 10 decile rows of the final
    // groupBy("decile") — bounded by the ntile bucket count, after
    // the customer-grain ntile itself moved to DistributedRank
    "q80_decile_lift" -> 1,
    // rank + running-sum over the per-SOURCE aggregate — |sources|
    // rows (20 in the corpus; a data-model dimension, not volume)
    "c15_waterfill_budget" -> 2,
    // two prefix sums over the TEN-row decile checkpoint frame —
    // bounded by the checkpoint constant, never the corpus
    "t15_heaps_law" -> 2,
    // cumulative count over the histogram frame — ≤90 two-digit
    // buckets per decade × ≤19 decades of int64, a scheme constant
    // (the data-sized rank runs through DistributedRank, auto-exempt)
    "q97_hdr_quantiles" -> 1,
  )

  /** The red flags of one query's physical plan (empty: ok). Works on
    * an unexecuted plan (the main's initial adaptive plan) and on an
    * executed one (its final plan). Joins are found in subquery plans
    * and cached frames' plans too. */
  def verdict(name: String, plan: SparkPlan): Seq[String] = {
    def withSubqueries(p: SparkPlan): Iterator[SparkPlan] =
      QueryMetrics.allNodes(p).flatMap(n => Iterator(n) ++ n.subqueries.iterator.flatMap(withSubqueries))
    val nodes = withSubqueries(plan).toSeq
    val plWindows = PlanCheck.partitionlessWindows(plan)
    val allowed = boundedPartitionlessWindows.getOrElse(name, 0)
    Seq(
      if (nodes.exists(_.isInstanceOf[CartesianProductExec])) Some("CARTESIAN") else None,
      if (!expectedNestedLoop(name) && nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
        Some("NESTED-LOOP")
      else None,
      if (plWindows.size > allowed)
        Some(s"SINGLE-PARTITION-WINDOW x${plWindows.size} (allowed $allowed): " +
          plWindows.mkString("; "))
      else None,
    ).flatten
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(cores = 8, appName = "graft-plan-audit")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // GRAFT_ANALYZE=1 audits the nightly-pipeline world: raw tables
    // carry exact rowCount/NDV stats (TierRefresh's analyze_raw step),
    // the precondition for estimation-driven plan changes — pair with
    // GRAFT_EXTRA_CONF to audit a candidate optimizer flag
    if (sys.env.get("GRAFT_ANALYZE").contains("1"))
      graft.io.TableStats.analyzeAll(spark, sfDir): Unit
    var flags = 0
    for ((name, fn) <- graft.queries.Registry.queries.toSeq.sortBy(_._1)) {
      val smells = verdict(name, fn(spark, sfDir).queryExecution.executedPlan)
      if (smells.nonEmpty) { flags += 1; println(s"FLAG $name: ${smells.mkString(",")}") }
      else println(s"ok   $name")
    }
    println(s"$flags flagged")
    spark.stop()
  }
}
