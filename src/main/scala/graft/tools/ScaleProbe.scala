package graft.tools

import graft.core.{Sessions, Tables}
import graft.pipeline.QueryMetrics

/** The 100×-question answered by measurement: run the quadratic-risk
  * queries at two scale factors, record shuffle volume from the
  * [[QueryMetrics]] records of one [[Sessions.capture]] per run, and
  * report the growth exponent relative to input rows. A
  * blocked/pruned plan shows ~linear shuffle growth; a
  * candidate generator that secretly scales with block² shows up here
  * long before it shows up as a 100 TB incident.
  *
  * Usage: `run_class.sh graft.tools.ScaleProbe <sfDirSmall> <sfDirBig> [names...]`
  * (defaults to the quadratic-risk family). Prints one JSON line and
  * mirrors it to scale_probe.json in the working directory (override
  * with -Dgraft.scaleprobe.mirror / GRAFT_SCALEPROBE_MIRROR). The run
  * serves its tiers from a fresh temporary store root, deleted at the
  * end, so every tier builds from full and the bytes depend on the SF
  * data alone, not on the LSM appends a long-lived store has taken.
  */
object ScaleProbe {

  private val DefaultSuspects = Seq(
    "q36_fuzzy_pairs", "k2_tf_cosine_pairs", "k5_pmi_collocations",
    "c3_decontaminate", "d5_ngram_jaccard",
    "k6_tf_cosine_capped", "d7_jaccard_prefiltered", "d13_prefix_join",
    // round-5 additions (r4 verdict #8): the round-4 queries whose
    // linearity was claimed-by-construction but not yet measured
    "d15_incremental_dedup", "g2_triangles", "g3_bfs_hops",
    "q79_session_funnel",
    // round-5 additions: weighted sample (top-k), containment (d7's
    // df-capped generator), bigram-LM scoring (fan-out-1 equi-joins)
    "c9_weighted_sample", "d16_containment", "t9_lm_score",
    // iterative PageRank: rounds ride the cached hash(src) edge layout,
    // so shuffle growth should track the edge build, not rounds×edges
    "g1_pagerank",
    // winnowing span dedup: fingerprint density ~2/(W+1) of k-grams,
    // pair join df-capped — should track corpus size, not pairs
    "d17_span_dedup",
    // round-6 additions (r5 verdict #5): BPE train/encode iterate on
    // the vocab grain (one corpus exchange), s9's int8 scan + re-rank,
    // c10's cluster-keyed split, q45's max_by latest-per-key
    "v1_bpe_merges", "v2_bpe_tokenize", "s9_sq_ann",
    "c10_leakage_safe_split", "q45_latest_per_key",
    // round-6 additions: t10 is a pure map (expect ~0 shuffle growth
    // beyond the parallelism repartition), c11 is one source-grain agg,
    // g4 rides g2's bounded wedge build, s11's M-step reduces to k
    // rows; s10's ADC scan is Q x N like s1/s9 — probed as the
    // declared baseline, IVF-composition is its linear twin
    "t10_gopher_rules", "c11_token_budget_mix", "g4_label_prop",
    "s11_kmeans", "s10_pq_adc",
    // q81's user-keyed range join (session-bounded fan-out), d18's
    // pair-grain sketch audit on d3's banded candidates, c12's one
    // range exchange (DistributedRank)
    "q81_multi_touch", "d18_minhash_accuracy", "c12_curriculum",
    // r6 third batch: d19's within-cluster pair join (shuffle rides the
    // cluster key, pair blow-up stays inside cells), c13's shingle
    // semi-join, q82's user-keyed window + 25-row matrix, g5's fixed
    // HITS rounds on g1's edge build
    "d19_semdedup", "c13_contamination_score", "q82_markov_transitions",
    "g5_hits",
    // r6 fourth batch: t11 pure map, c14 one grouped agg, m5's single
    // DistributedRank range exchange + 3-row offsets broadcast
    "t11_structure_stats", "c14_dataset_card", "m5_modality_batches",
    // q83: exact percentiles via the bounded (priority x day) histogram
    // — shuffle carries histogram cells, never value buffers
    "q83_sla_percentiles",
    // k7: token-grain aggregates collapse to the (source x vocab) grain
    // before scoring; top-5 pick ships <=5 tuples per partition
    "k7_chi2_keywords",
    // q84: multi-distinct compiles to ONE Expand+aggregate scan
    "q84_table_stats",
    // s12: per-query work = |cell| ADC lookups, never a corpus scan
    "s12_ivf_pq",
    // q85: recursive-CTE closure is |docs| x depth, iterations bounded
    // by hierarchy depth (log N), each a joinless map step
    "q85_hierarchy_rollup",
    // r6 fifth batch: q86's regression collapses to the (segment x
    // month) grain map-side; t12 pays the standard vocab explode+agg
    // then a vocab range exchange, fit over a fixed 5000-row head;
    // d20's train grams meet the bloom via broadcast-only probes —
    // shuffle should track the eval split + contaminated survivors,
    // not the train gram count
    "q86_regr_trend", "t12_zipf", "d20_bloom_decontaminate",
    // r6 sixth batch: q87's FK checks are one LEFT-join pass per
    // (child, parent) pair; s13's label predicate joins as part of
    // the candidate key (pre-filter, candidates shrink ~10x); g6 is
    // degree aggregates + one edge-grain join + a scalar reduce
    "q87_referential_integrity", "s13_filtered_ann", "g6_degree_stats",
    // r6 seventh batch: g7's wedge volume is Σ_p deg(p)² with deg a
    // data-model constant and HubCap the explicit bound; t13 is a
    // pure map (entropy folds inside one codegen stage); c15 is one
    // source-grain agg + broadcast joins; q88 is one user-grain agg
    // behind a scalar anchor; s14 rides s1's broadcast-query scan
    "g7_link_predict", "t13_char_entropy", "c15_waterfill_budget",
    "q88_decay_score", "s14_knn_classify",
    // d21 rolls d3's banded candidates up to the |sources|² grain —
    // shuffle rides the pair list + two doc-grain label joins
    "d21_source_overlap",
    // k8: everything keyed by doc_id — windows ride the posexplode's
    // doc-keyed repartition, word-stats joins are doc-grain
    "k8_rake_phrases",
    // g8: the edge set only SHRINKS across peel rounds; each round is
    // two keyed window counts (over cust, over supp) + one filter
    "g8_kcore",
    // c16: one shard exchange; in-task packing state is O(OpenCap)
    "c16_bestfit_pack",
    // q89: one user-keyed window, then the |types|³-bounded grain
    "q89_seq_patterns",
    // d22: two components passes + ONE label join; contingency grain
    // bounded by cluster counts, Rand from exact integer pair sums
    "d22_cluster_agreement",
    // q90: the native merge as-of — two key-clustered exchanges, one
    // forward pass, zero candidate fan-out
    "q90_asof_native",
    // s15: pair grid + greedy steps on the 10-per-query bounded frame
    "s15_mmr_rerank",
    // t14: token explode -> map-combined (doc, term) count -> vocab
    // grain; corpus size is a one-row broadcast
    "t14_burstiness")

  /** Primary input table per query — the denominator of the growth rate. */
  private val inputTable = Map(
    "q36_fuzzy_pairs" -> "part",
    "g1_pagerank" -> "lineitem",
    "g2_triangles" -> "lineitem",
    "g3_bfs_hops" -> "lineitem",
    "q79_session_funnel" -> "events",
    "q45_latest_per_key" -> "events",
    "s9_sq_ann" -> "embeddings",
    "s10_pq_adc" -> "embeddings",
    "q81_multi_touch" -> "events",
    "s11_kmeans" -> "embeddings",
    "s12_ivf_pq" -> "embeddings",
    "d19_semdedup" -> "embeddings",
    "q82_markov_transitions" -> "events",
    "g5_hits" -> "lineitem",
    "g4_label_prop" -> "lineitem",
    "q86_regr_trend" -> "orders",
    "q87_referential_integrity" -> "lineitem",
    "s13_filtered_ann" -> "embeddings",
    "g6_degree_stats" -> "lineitem",
    "g7_link_predict" -> "lineitem",
    "g8_kcore" -> "lineitem",
    "q88_decay_score" -> "events",
    "q89_seq_patterns" -> "events",
    "q90_asof_native" -> "events",
    "s14_knn_classify" -> "embeddings",
    "s15_mmr_rerank" -> "embeddings").withDefaultValue("documents")

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val big   = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names = if (args.length > 2) args.drop(2).toSeq else DefaultSuspects
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val storeRoot = java.nio.file.Files.createTempDirectory("graft-scaleprobe-store")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = storeRoot.toString
    val report = try names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      def run(dir: String): (Long, Long) = {
        // warm-construct so DerivedStore tier builds happen off the
        // measurement (same rule as ScanCount/ScaleLinearitySpec)
        fn(spark, dir): Unit
        val b = shuffleBytesOf(fn(spark, dir))
        // drop per-query registered caches so consecutive probes
        // measure from cold and don't accumulate blocks
        Sessions.release(spark)
        b -> Tables.load(spark, dir, inputTable(name)).count()
      }
      val (bSmall, rowsSmall) = run(small)
      val (bBig, rowsBig)     = run(big)
      val rowRatio = rowsBig.toDouble / rowsSmall
      val shufRatio = if (bSmall == 0) 0.0 else bBig.toDouble / bSmall
      // growth exponent: shuffle ~ rows^e  =>  e = log(shufRatio)/log(rowRatio)
      val e = if (bSmall == 0 || shufRatio <= 0) 0.0
              else math.log(shufRatio) / math.log(rowRatio)
      name -> (bSmall, bBig, rowRatio, shufRatio, e)
    } finally {
      prevRoot match {
        case Some(v) => sys.props("graft.graphstore.dir") = v
        case None => sys.props.remove("graft.graphstore.dir"): Unit
      }
      val p = new org.apache.hadoop.fs.Path(storeRoot.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
    }

    val mirror = sys.props.get("graft.scaleprobe.mirror")
      .orElse(sys.env.get("GRAFT_SCALEPROBE_MIRROR"))
      .getOrElse("scale_probe.json")
    // Merge into the existing mirror: a subset probe (local iteration
    // on a few names) must not drop the other queries' entries. Only
    // entries probed at the SAME sf pair are carried over.
    val carried: Seq[(String, String)] = {
      val p = java.nio.file.Paths.get(mirror).toAbsolutePath
      if (!java.nio.file.Files.exists(p)) Seq.empty
      else {
        // whitespace-tolerant: the mirror may be pretty-printed
        val prev = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        def has(key: String, v: String) =
          s""""$key":\\s*"${java.util.regex.Pattern.quote(v)}"""".r
            .findFirstIn(prev).isDefined
        if (!has("small", small) || !has("big", big)) Seq.empty
        else """"([a-z0-9_]+)":\s*(\{[^{}]*\})""".r
          .findAllMatchIn(prev)
          .map(m => m.group(1) ->
            m.group(2).replaceAll("\\s+", "")).toSeq
          .filterNot { case (n, _) => names.contains(n) }
      }
    }
    val fresh = report.map { case (n, (bs, bb, rr, sr, e)) =>
      n -> f"""{"bytes_small":$bs,"bytes_big":$bb,"row_ratio":$rr%.1f,"shuffle_ratio":$sr%.2f,"exponent":$e%.2f}"""
    }
    val body = (carried ++ fresh)
      .map { case (n, j) => s""""$n":$j""" }.mkString("{", ",", "}")
    val line = s"""{"small":"$small","big":"$big","queries":$body}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mirror).toAbsolutePath,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[scale-probe] mirror write to $mirror failed: $e")
    }
    spark.stop()
    println(line)
  }

  /** The shuffle bytes of running `df` ([[shuffleBytes]] over one
    * [[Sessions.capture]] of its noop write). */
  def shuffleBytesOf(df: org.apache.spark.sql.DataFrame): Long =
    shuffleBytes(Sessions.capture(df.sparkSession)(Sessions.run(df))._2
      .executions.map(QueryMetrics.of))

  /** The shuffle bytes of one run's records. A query with internal
    * persists emits SEVERAL records (one per materializing action), so
    * take the MAX record, not the sum: cached-plan SQLMetrics are
    * CUMULATIVE and are re-read by every record whose plan scans the
    * cache, so the final action's record already contains the cache
    * build's shuffles; summing would count them once per record.
    */
  def shuffleBytes(records: Seq[QueryMetrics.Record]): Long =
    records.map(_.shuffleBytes).maxOption.getOrElse(0L)
}
