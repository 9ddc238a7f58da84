package graft.tools

import graft.SparkSpec

/** The 100×-question answered by measurement instead of plan-reading:
  * shuffle volume of the quadratic-risk production paths must grow
  * ≤ linearly in input rows across a real 10× scale step
  * (sf0.01 → sf0.1 — the largest driver-provided TESTDATA).
  *
  * d5 and k2 are intentionally absent: they are the DECLARED exact
  * pairwise baselines (recall denominators / oracle anchors) whose
  * blocked production paths are d7 and k6 — those are pinned here.
  * q36's vocabulary matrix is covered by its own bounded-candidates
  * spec (AnalyticsSpec).
  */
class ScaleLinearitySpec extends SparkSpec {

  private val Small = "/root/testdata/sf0.01"
  private val Big   = "/root/testdata/sf0.1"
  private val RowRatio = 10.0
  // linear + measurement slack: 10^1.25 ≈ 17.8× allowed vs the
  // unblocked quadratic paths' measured 22-44×
  private val MaxExponent = 1.25

  private val productionPaths = Seq(
    "c3_decontaminate", "k5_pmi_collocations",
    "d7_jaccard_prefiltered", "k6_tf_cosine_capped",
    // r5: the round-4 additions, measured not just argued — d15's
    // batch-vs-corpus banding, g2's k-NN edge bound, g3's fixed
    // rounds, q79's window-only funnel
    "d15_incremental_dedup", "g2_triangles", "g3_bfs_hops",
    "q79_session_funnel",
    // r5 new operators: c9 top-k sample, d16 containment, t9 LM score,
    // d17 winnowing span dedup (df-capped fingerprint join)
    "c9_weighted_sample", "d16_containment", "t9_lm_score",
    "d17_span_dedup",
    // r6 (r5 verdict #5): BPE train + encode (vocab-grain rounds, one
    // corpus exchange), c10 cluster-keyed split, q45 max_by
    // latest-per-key. s9 is probed in scale_probe.json (exp 1.22 over
    // the 4× embeddings step) but not pinned here: its scan stage is
    // the DECLARED brute-force baseline whose linear twin is s5's IVF.
    "v1_bpe_merges", "v2_bpe_tokenize", "c10_leakage_safe_split",
    "q45_latest_per_key",
    // r6 new operators: t10 pure map, c11 source-grain agg + broadcast,
    // g4 on g2's bounded wedge build, s11's k-row M-step reduce.
    // s10_pq_adc is probed (1.03 over the 4× embeddings step) but not
    // pinned: its ADC scan is Q×N by design, the declared-baseline
    // family of s1/s9 whose linear twin is IVF-cell composition.
    "t10_gopher_rules", "c11_token_budget_mix", "g4_label_prop",
    "s11_kmeans",
    // r6 second batch: q81's session-bounded range join, d18's
    // pair-grain sketch audit, c12's single range exchange
    "q81_multi_touch", "d18_minhash_accuracy", "c12_curriculum",
    // r6 third batch (probed 0.81/0.88/1.03/0.93): d19's pair blow-up
    // stays inside cluster cells (shuffle rides the cluster key), c13's
    // shingle semi-join collapses to presence before the per-doc count,
    // q82 is one user-keyed window + a 25-row matrix, g5's fixed HITS
    // rounds ride the cached edge build like g1
    "d19_semdedup", "c13_contamination_score", "q82_markov_transitions",
    "g5_hits",
    // r6 fourth batch (probed 0.99/0.91/0.82): t11 pure map, c14 one
    // map-side-combined agg, m5's single range exchange
    "t11_structure_stats", "c14_dataset_card", "m5_modality_batches",
    // q83 (probed 0.86): bounded-histogram percentiles — no buffers
    "q83_sla_percentiles",
    // k7 (probed 0.60): vocab-grain scoring + bounded top-k aggregator
    "k7_chi2_keywords",
    // q84 (probed 0.94): one Expand+agg scan for all column stats
    "q84_table_stats",
    // s12 (probed 0.85 over the 4x embeddings step): the IVF+PQ
    // composition — cell-pruned ADC, broadcast codebooks/LUT; the
    // linear twin the s1/s9/s10 declared baselines point at
    "s12_ivf_pq",
    // q85 (probed 0.84): N x depth closure, depth-bounded recursion
    "q85_hierarchy_rollup",
    // r6 fifth batch (probed -0.01/0.78/0.73): q86 collapses to the
    // (segment x month) grain map-side; t12's fit is over a fixed
    // 5000-row head after the standard vocab agg; d20's train grams
    // meet the eval bloom via broadcast-only probes, so shuffle tracks
    // the eval split + survivors, not the train gram count
    "q86_regr_trend", "t12_zipf", "d20_bloom_decontaminate",
    // r6 sixth batch (probed 0.96/0.58/0.96): q87 fuses FK checks into
    // one LEFT-join pass per (child, parent) pair; s13's label joins
    // as part of the ANN candidate key (pre-filter); g6's assortativity
    // is degree aggs + one edge-grain join + a scalar reduce
    "q87_referential_integrity", "s13_filtered_ann", "g6_degree_stats",
    // r6 seventh batch (probed 1.04/0.98/0.89/0.78/0.99): g7's wedge
    // volume is Σ_p deg(p)² with customers-per-part a data-model
    // constant and HubCap the explicit hub bound; t13's entropy fold
    // is a pure map; c15 is one source-grain agg + broadcast joins;
    // q88 one user-grain agg behind a scalar anchor. s14's SHUFFLE is
    // linear (vote grain ≤ 5·|queries|) and pinned here; its compute
    // stage is s1's declared Q×N baseline that swaps for IVF at scale.
    "g7_link_predict", "t13_char_entropy", "c15_waterfill_budget",
    "q88_decay_score", "s14_knn_classify",
    // d21 (probed 0.98): d3's banded candidates rolled up to the
    // |sources|² grain via two doc-grain label equi-joins
    "d21_source_overlap",
    // k8 (probed 0.94): RAKE is doc-keyed end-to-end — phrase windows,
    // word stats and rank all ride hash(doc_id)-family partitions
    "k8_rake_phrases",
    // g8 (probed 1.00 after the per-round cache): peel rounds only
    // shrink the cached edge set
    "g8_kcore",
    // c16 (probed 0.93): one shard exchange, O(OpenCap) task state
    "c16_bestfit_pack",
    // q89 (probed 1.01): one user-keyed double-lead window, then the
    // |types|^3-bounded pattern grain
    "q89_seq_patterns",
    // d22 (probed 0.90): two components passes + one label join; the
    // contingency grain is bounded by cluster counts
    "d22_cluster_agreement",
    // q90 (probed 1.01): native merge as-of — two key-clustered
    // exchanges + sorts, one forward pass, no candidate fan-out
    "q90_asof_native",
    // s15 (probed 1.02 over the 4x embeddings step): greedy MMR on
    // the 10-per-query bounded frame
    "s15_mmr_rerank",
    // t14 (probed 0.86): the standard vocab explode+agg shape
    "t14_burstiness",
    // r6 eighth batch (probed 1.12/1.04/0.91): d23's deletion-signature
    // join — bucket fan-out is alphabet×positions, not corpus size;
    // q91 is q17's one-exchange window shape; c17 is two map-combined
    // aggs sharing the content-hash exchange
    "d23_fuzzy_name_match", "q91_debounce", "c17_effective_mix",
    // r6 ninth batch (probed 0.88/0.93): q92's window fan-out is a
    // bounded ×7/×28 on the already-collapsed (user, day) grain; d24
    // is doc-keyed end-to-end (k8's shape)
    "q92_active_users", "d24_repeat_trim",
    // r6 tenth batch (probed 0.87/1.01): d25's strip is a doc-keyed
    // anti-join against the tiny df-filtered boilerplate set; g9's
    // three walk steps are frontier⋈edges equi-joins with the join
    // strategy PINNED to shuffle-hash so the measured growth is the
    // production plan's, not a small-SF broadcast's
    "d25_boilerplate_strip", "g9_hash_walks",
    // r6 eleventh batch (probed 0.81/0.88): k9's rank rounds ride the
    // vocab grain behind one corpus bigram agg (t9's shape); d26's
    // neighborhood join fans out ≤2W per record by arithmetic
    "k9_textrank", "d26_sorted_neighborhood",
    // g10 (probed 1.04): two message-passing hops on the cached
    // pre-partitioned edge set — never 2-hop pair enumeration
    "g10_sage_features",
    // s16 (probed 0.58): s5's cell equi-join — comparisons bounded by
    // cell size, agreement is one map-combined count per vector
    "s16_label_audit",
    // r7 batch (probed 0.78/0.71/0.00/0.75/0.12/1.15/1.01/0.59):
    // q93 two user-keyed aggs collapsing to the cohort×offset matrix;
    // q94 one user-grain agg + user-keyed purchase join; q95's digit
    // histogram is 9 rows behind a scalar cross; t15 vocab-grain min
    // + 10-row decile histograms; c18 runs on the |sources| grain;
    // g11 rides g4's cached wedge build + two node-keyed label joins;
    // d27 is ONE bounded-bucket self-join on (n_bands, band_idx,
    // band_hash) over one signature pass + d11's verify on the
    // distinct candidate pairs; s17's shuffle is the two
    // ≤10-per-query rank lists (its exact side is s1's declared
    // baseline, compute-heavy but shuffle-light)
    "q93_cohort_retention", "q94_ab_conversion", "q95_benford",
    "t15_heaps_law", "c18_mix_kl", "g11_modularity", "d27_lsh_tuning",
    "s17_recall_curve",
    // r7 sketch/join batch (probed 0.98/0.96/0.66): q96's salted
    // shuffle-hash join is the plain join's exchange + an 8× dim
    // explode; q97 is one constant-size histogram agg + DistributedRank
    // for the exact audit side; q98 ships two bounded KMinAgg sketches
    // and does its set algebra on a one-row frame
    "q96_salted_join", "q97_hdr_quantiles", "q98_kmv_setops",
    // r7 governance/profile batch (probed 0.98/0.92/0.02): t16 is a
    // pure map stage (readability per doc); c19 is one doc_id-keyed
    // full-outer join + a |sources|×4 rollup; q99's shuffle is the
    // (type,day,hour) cell grain — fixed time span, so event growth
    // lands in the map-side combine, not the exchange
    "t16_readability", "c19_dataset_diff", "q99_seasonal_outliers",
    // r7 eval/audit pair (probed 0.87/0.79): m6's shuffle is the
    // loadParallel round-robin of the corpus side + per-query rank
    // counts (its broadcast cross is s1's declared baseline); c20 is
    // one DistributedRank range exchange over the
    // 3×|docs| epoch frame + a doc-keyed self-join on that grain
    "m6_crossmodal_recall", "c20_epoch_shuffle",
    // q100 (probed 0.83): two constant-size CM grids (map-combined)
    // + the actual-join honesty count; the estimate side alone is
    // corpus-size-independent
    "q100_join_size_sketch",
    // r8: m7 (probed 1.00) — the IVF-served eval: centroid crosses
    // collapse map-side to the row grain, candidates ride a cell-keyed
    // equi-join (|q|·nprobe·cell-size, linear at fixed fan-out)
    "m7_crossmodal_ivf")

  test("blocked/capped paths shuffle ≤ linearly across a 10× corpus step") {
    val fails = productionPaths.flatMap { name =>
      val fn = graft.SparkEntry.queries(name)
      def bytes(dir: String): Long = {
        // warm-construct first: DerivedStore tiers (GraphStore,
        // ClusterStore) build on first construction — that one-off
        // per-snapshot cost must not land inside one SF's measurement
        // and not the other's, or the exponent reads the BUILD's
        // shuffle asymmetry instead of the query's (ScanCount's rule)
        fn(spark, dir): Unit
        val b = ScaleProbe.shuffleBytesOf(fn(spark, dir))
        graft.core.Sessions.release(spark)
        b
      }
      val bSmall = bytes(Small)
      val bBig = bytes(Big)
      assert(bSmall > 0, s"$name recorded no shuffle at $Small — probe broken?")
      val e = math.log(bBig.toDouble / bSmall) / math.log(RowRatio)
      if (e > MaxExponent)
        Some(f"$name: $bSmall -> $bBig bytes, exponent $e%.2f > $MaxExponent")
      else None
    }
    assert(fails.isEmpty, fails.mkString("; "))
  }
}
