package graft.corpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Caching.RegisterSyntax

/** Corpus-level training-data operators over `documents` — the stages
  * between "cleaned documents" and "training mix" in an LLM data
  * pipeline: deterministic splitting, per-source mixing/upsampling,
  * eval-set decontamination, and per-language quality gating.
  *
  * Everything here is engine-neutral-deterministic (md5 buckets,
  * integer arithmetic, the percentile interpolation both engines share)
  * so every query is DuckDB-oracle-checkable, and shuffle-lean:
  * c1/c2 are pure map stages; c3 is one bounded shingle join; c4 is
  * one tiny grouped aggregate broadcast back.
  */
object Corpus {

  type Q = (SparkSession, String) => DataFrame

  // =========================================================================
  // c1 — deterministic hash split (train / val / test)
  // =========================================================================

  /** Content-stable split: bucket = first 16 bits of md5(doc_id) mod
    * 1000 → 90/5/5. Hash-of-key (not `rand()`, not `sampleBy`) is the
    * 100 TB answer: the assignment is a per-row map stage with no
    * shuffle and no seed-ordering dependence, reproducible across
    * re-runs, cluster sizes, and incremental corpus additions — a doc
    * keeps its split forever, so eval never silently leaks into train
    * when the corpus grows.
    */
  private[graft] val splitBucket: Column =
    expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 1000")

  private[graft] val oracleBucket: String =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 1000"

  val c1HashSplit: Q = (s, dir) =>
    Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), splitBucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 900, "train")
          .when(col("bucket") < 950, "val")
          .otherwise("test"))

  val c1HashSplitSql: String = s"""
    SELECT doc_id, $oracleBucket AS bucket,
           CASE WHEN $oracleBucket < 900 THEN 'train'
                WHEN $oracleBucket < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM documents"""

  // =========================================================================
  // c2 — corpus mixing: per-source weighted upsampling
  // =========================================================================

  /** Integer upsampling by source quality tier: each doc is replicated
    * `weight` times with an epoch index (the standard "N epochs of
    * wiki, 1 of web" mix). Map-side `explode(sequence(...))` — the
    * replication happens at read time on the executors, never as a
    * shuffle or a driver loop; downstream shuffles see the already-
    * mixed stream. Fractional weights compose with c1's hash buckets
    * (e.g. weight 2.5 = 2 copies + bucket<500 half-copy).
    */
  // Weight parse is guarded so malformed sources behave identically
  // on both engines: try_cast nulls (never errors), coalesce turns
  // an unparseable source into weight 1, greatest floors a negative
  // parse at 1 (Spark's sequence(1,0) would yield a DESCENDING
  // 2-element array where DuckDB's generate_series(1,0) is empty).
  private[graft] val weightExpr =
    "greatest(1, coalesce(1 + try_cast(substr(source, 4, 10) as int) % 3, 1))"

  val c2CorpusMix: Q = (s, dir) =>
    Tables.loadParallel(s, dir, "documents")
      .withColumn("weight", expr(weightExpr))
      .select(col("doc_id"), col("source"), col("weight"),
        explode(expr("sequence(1, weight)")).as("epoch"))

  val c2CorpusMixSql: String = """
    WITH w AS (SELECT doc_id, source,
                      greatest(1, coalesce(
                        1 + TRY_CAST(substr(source, 4, 10) AS INT) % 3,
                        1)) AS weight
               FROM documents)
    SELECT doc_id, source, weight, unnest(generate_series(1, weight)) AS epoch
    FROM w"""

  // =========================================================================
  // c3 — decontamination: train docs overlapping the eval split
  // =========================================================================

  /** Overlap between c1's train split and its held-out test split via
    * shared word-3-gram shingles — the standard n-gram decontamination
    * pass (an eval answer appearing verbatim in train data corrupts the
    * benchmark). Stop-shingles (df > [[DfCap]]) are dropped before the
    * join, exactly d7's scale knob: the train×eval fan-out per shingle
    * is bounded, and the eval side is tiny by construction (5% of the
    * corpus), so at 100 TB this is one shuffle keyed on shingle with a
    * small build side.
    */
  private val DfCap = 20
  private val MinShared = 2

  val c3Decontaminate: Q = (s, dir) => {
    // shingle-tier read (d20's shape): bucket is doc_id-derived,
    // re-stamped on the pruned (doc_id, shingles) columns
    val docs = graft.dedup.ShingleStore.served(s, dir)
      .withColumn("bucket", splitBucket)
      .select(col("doc_id"), col("bucket"), explode(col("shingles")).as("sh"))
    val rare = docs.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap).select("sh")
    // persist: the shingle pipeline feeds the df-cap aggregate plus
    // both join sides — one materialization instead of three
    val filtered = docs.join(rare, "sh").registerCache()
    val train = filtered.filter(col("bucket") < 900)
      .select(col("doc_id").as("train_doc"), col("sh"))
    val eval_ = filtered.filter(col("bucket") >= 950)
      .select(col("doc_id").as("eval_doc"), col("sh"))
    // joined rows are unique in (train_doc, sh, eval_doc) — shingle
    // lists are array_distinct per doc — so the two "distinct counts"
    // are plain counts over two cheap pre-dedups, not a double-expand
    // aggregate over the join output
    val joined = train.join(eval_, "sh").registerCache()
    val bySh = joined.select("train_doc", "sh").distinct()
      .groupBy("train_doc").agg(count(lit(1)).as("n_shared_shingles"))
    val byEval = joined.select("train_doc", "eval_doc").distinct()
      .groupBy("train_doc").agg(count(lit(1)).as("n_eval_docs"))
    bySh.join(byEval, "train_doc")
      .filter(col("n_shared_shingles") >= MinShared)
  }

  val c3DecontaminateSql: String = {
    import graft.dedup.Dedup.{oracleShingles, oracleTokens}
    s"""WITH t AS (SELECT doc_id, $oracleBucket AS bucket, $oracleTokens AS tokens
                   FROM documents),
    s AS (SELECT doc_id, bucket, $oracleShingles AS sh FROM t),
    e AS (SELECT doc_id, bucket, unnest(sh) AS g FROM s),
    rare AS (SELECT g FROM e GROUP BY g HAVING count(*) <= $DfCap),
    ef AS (SELECT e.* FROM e JOIN rare USING (g)),
    hits AS (
      SELECT tr.doc_id AS train_doc,
             count(DISTINCT tr.g) AS n_shared_shingles,
             count(DISTINCT ev.doc_id) AS n_eval_docs
      FROM ef tr JOIN ef ev ON tr.g = ev.g
      WHERE tr.bucket < 900 AND ev.bucket >= 950
      GROUP BY 1)
    SELECT * FROM hits WHERE n_shared_shingles >= $MinShared"""
  }

  // =========================================================================
  // c4 — per-language quality gate (grouped-quantile filter)
  // =========================================================================

  /** Keep documents at or above their language's median token count —
    * the grouped-threshold shape of a quality gate ("drop the bottom
    * half per language", so high-resource languages don't set the bar
    * for low-resource ones). The per-language medians are a 5-row
    * aggregate broadcast back into the scan: one shuffle for the
    * quantiles, zero for the filter. Exact-percentile interpolation on
    * integers matches DuckDB's quantile_cont bit-for-bit (q24's trick).
    */
  val c4QualityGate: Q = (s, dir) => {
    val docs = Tables.loadParallel(s, dir, "documents")
      .withColumn("n_tokens",
        expr("size(split(regexp_replace(lower(trim(text)), ' +', ' '), ' '))"))
    val medians = docs.groupBy("lang")
      .agg(expr("percentile(n_tokens, 0.5)").as("lang_median"))
    docs.join(broadcast(medians), "lang")
      .filter(col("n_tokens") >= col("lang_median"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("lang_median"))
  }

  val c4QualityGateSql: String = """
    WITH d AS (SELECT doc_id, lang,
                      len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS n_tokens
               FROM documents),
    m AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS lang_median
          FROM d GROUP BY 1)
    SELECT doc_id, d.lang, n_tokens, lang_median
    FROM d JOIN m ON d.lang = m.lang
    WHERE n_tokens >= lang_median"""

  // =========================================================================
  // c5 — deterministic bottom-k sample per stratum
  // =========================================================================

  private val SampleK = 50

  /** Exactly-k-per-source sample for eval sets and ablations:
    * coordinated bottom-k sampling — keep the k smallest
    * md5(doc_id) per source. Like c1, hash-not-rand makes the sample
    * reproducible across runs and cluster sizes, and adding documents
    * perturbs it by at most one swap per insert (coordinated
    * sampling), instead of reshuffling everything the way a seeded
    * `rand()` order would. The k minima ride [[graft.functions.KMV.KMinAgg]]
    * — k values per partition on the wire, no per-stratum sort — then
    * one equi-join fetches the sampled rows.
    */
  val c5StratifiedSample: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.loadParallel(s, dir, "documents")
      .withColumn("h",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"))
    val mins = docs.select(col("source"), col("h")).as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.KMV.KMinAgg(SampleK).toColumn.name("mins"))
      .toDF("source", "mins")
      .select(col("source"), explode(col("mins")).as("h"))
    docs.join(mins, Seq("source", "h"))
      .select("source", "doc_id", "lang")
  }

  val c5StratifiedSampleSql: String = s"""
    WITH d AS (
      SELECT source, doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM d)
    SELECT source, doc_id, lang FROM r WHERE rn <= $SampleK"""

  // =========================================================================
  // c6 — training-sequence packing (concatenate-and-chunk)
  // =========================================================================

  private val CtxLen  = 2048
  private val NShards = 8

  /** Assign every document a (shard, seq_id, offset) in the packed
    * token stream — the GPT-style "concatenate shard, chunk every
    * CtxLen tokens" layout. Shard = md5 bucket (deterministic, stable
    * under corpus growth within a shard-append discipline), order
    * within shard = doc_id, and seq_id/offset fall out of a running
    * token sum: `floor(tokens_before / CtxLen)` and `mod`. One
    * range-sort per shard (the window), no join, no driver state; at
    * 100 TB the shard count is the parallelism knob — thousands of
    * shards keep each window partition executor-sized, and each shard
    * packs independently so the job is embarrassingly parallel.
    */
  val c6SequencePacking: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.loadParallel(s, dir, "documents")
      .withColumn("n_tokens",
        expr("size(split(regexp_replace(lower(trim(text)), ' +', ' '), ' '))"))
      .withColumn("shard",
        expr(s"cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % $NShards"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("tokens_before") / CtxLen).cast("long").as("seq_id"),
        (col("tokens_before") % CtxLen).as("offset"))
  }

  val c6SequencePackingSql: String = s"""
    WITH d AS (
      SELECT doc_id,
             len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % $NShards AS shard
      FROM documents),
    p AS (SELECT *, coalesce(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
          FROM d)
    SELECT doc_id, shard, n_tokens,
           CAST(floor(tokens_before / $CtxLen) AS BIGINT) AS seq_id,
           CAST(tokens_before % $CtxLen AS BIGINT) AS "offset"
    FROM p"""

  // =========================================================================

  /** c7 — temperature-flattened source mixing (T=2): each source's
    * sampling weight is `n_docs^(1/T) = sqrt(n_docs)`, the standard
    * move that up-weights small sources without letting any source
    * dominate (multilingual/multi-source pretraining mixes). `sqrt` is
    * correctly-rounded IEEE in both engines, so quantizing the weight
    * and the resulting mix share to integer micros is bit-exact — no
    * `pow`/`ln` tolerance games. The whole query runs on the per-source
    * count table (|sources| rows after one count shuffle); the grand
    * total is a one-row broadcast, and the output is the sampling table
    * a mix job joins back to the corpus.
    */
  val c7TemperatureMix: Q = (s, dir) => {
    val perSource = Tables.loadParallel(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val withW = perSource.withColumn("w_micro",
      round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val tot = withW.agg(sum("w_micro").as("tot_w"), sum("n_docs").as("tot_docs"))
    withW.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w_micro"),
        round(col("w_micro").cast("double") / col("tot_w").cast("double") * 1e6)
          .cast("long").as("share_micro"),
        // expected docs drawn for this source in a tot_docs-sized epoch
        round(col("w_micro").cast("double") / col("tot_w").cast("double") *
          col("tot_docs").cast("double")).cast("long").as("expect_docs"))
  }

  val c7TemperatureMixSql: String = """
    WITH ps AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    w AS (SELECT source, n_docs,
                 CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
          FROM ps),
    t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tot_w,
                 CAST(SUM(n_docs) AS BIGINT) AS tot_docs FROM w)
    SELECT source, n_docs, w_micro,
           CAST(round(CAST(w_micro AS DOUBLE) / CAST(tot_w AS DOUBLE) * 1e6) AS BIGINT) AS share_micro,
           CAST(round(CAST(w_micro AS DOUBLE) / CAST(tot_w AS DOUBLE)
                      * CAST(tot_docs AS DOUBLE)) AS BIGINT) AS expect_docs
    FROM w CROSS JOIN t"""

  /** c8 — packing efficiency: per (shard, context window), how many
    * tokens landed and the fill rate in basis points — the metric that
    * tells a training pipeline whether c6's packing is wasting context
    * budget (fill ≪ 100% ⇒ too many overlong docs or a bad shard key).
    * Windows a doc merely STARTS in count its full token mass here
    * (greedy packing attributes a doc to its starting window), so the
    * last window per shard can exceed 100% — that asymmetry is itself
    * the overflow signal. Derived entirely from c6's output by one
    * (shard, seq) aggregate.
    */
  val c8PackingStats: Q = (s, dir) =>
    c6SequencePacking(s, dir)
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("tokens_in_window"))
      .withColumn("fill_bp",
        (col("tokens_in_window") * 10000L / CtxLen).cast("long"))

  val c8PackingStatsSql: String = s"""
    WITH d AS (
      SELECT doc_id,
             len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % $NShards AS shard
      FROM documents),
    p AS (SELECT *, coalesce(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
          FROM d)
    SELECT shard, CAST(tokens_before // $CtxLen AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_window,
           CAST(SUM(n_tokens) * 10000 // $CtxLen AS BIGINT) AS fill_bp
    FROM p GROUP BY 1, 2"""

  // =========================================================================
  // c9 — deterministic weighted sample (Efraimidis–Spirakis)
  // =========================================================================

  private val WeightedN = 100

  /** Weighted sampling WITHOUT replacement, proportional to document
    * length — the "draw a training mix by token mass" primitive.
    * Efraimidis–Spirakis exponential race: each doc gets key
    * `-ln(u)/w` with u uniform in (0,1] and w = n_chars; the k
    * SMALLEST keys are a weighted sample without replacement. u is
    * hash-derived (first 60 bits of md5(doc_id), +1 so u > 0), never
    * `rand()`: the draw is reproducible across runs, engines and
    * cluster sizes, and c1/c5's coordinated-sampling stability
    * argument applies. Keys are quantized to integer micros with a
    * doc_id tie-break (q39's ln discipline — the one float op rounds
    * once, then everything is exact integer ordering).
    *
    * Plan shape: a pure map stage + global top-k, which Spark plans
    * as `TakeOrderedAndProject` — per-partition heaps of k, never a
    * global sort (the same reason PlanCheck exempts limit-fed
    * windows). At 100 TB this is a scan + k rows per partition on
    * the wire.
    */
  val c9WeightedSample: Q = (s, dir) =>
    Tables.loadParallel(s, dir, "documents")
      .withColumn("h",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"))
      .withColumn("key_micro", expr(
        "cast(round(-1e6 * ln((cast(h as double) + 1.0) / 1152921504606846976.0)" +
          " / cast(n_chars as double)) as bigint)"))
      .orderBy(col("key_micro"), col("doc_id"))
      .limit(WeightedN)
      .select("doc_id", "source", "lang", "n_chars", "key_micro")

  val c9WeightedSampleSql: String = s"""
    WITH d AS (
      SELECT doc_id, source, lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents),
    k AS (
      SELECT doc_id, source, lang, n_chars,
             CAST(round(-1e6 * ln((CAST(h AS DOUBLE) + 1.0) / 1152921504606846976.0)
                        / CAST(n_chars AS DOUBLE)) AS BIGINT) AS key_micro
      FROM d)
    SELECT doc_id, source, lang, n_chars, key_micro
    FROM k ORDER BY key_micro, doc_id LIMIT $WeightedN"""

  /** c10 — LEAKAGE-SAFE split: c1's content-stable hash split, but
    * decided by the near-dup CLUSTER representative, so a document and
    * its near-duplicates land in the SAME split by construction.
    * Doc-level splitting (c1 alone) leaks: a train doc's near-dup in
    * the eval split inflates eval scores exactly like c3's verbatim
    * contamination — cluster-level assignment is the standard fix, and
    * it composes two operators the engine already has (d8's components
    * over d3's LSH pairs, c1's md5 bucket).
    *
    * Scale: components is the d8 loop (edge-list-sized, keyed rounds);
    * the split itself is a map stage over (doc_id → component) plus
    * one keyed left join of the corpus onto the component labels —
    * singletons (docs with no near-dup pair) default to their own id,
    * so the label table is only as big as the dup-pair node set.
    */
  val c10LeakageSafeSplit: Q = (s, dir) => {
    // r14: serve the labels from the materialized ClusterStore tier —
    // the EXACT frame this used to recompute inline
    // (lshComponentsInline = components(d3LshPairs); ClusterStoreSpec
    // pins served == inline, and the DuckDB oracle below re-proves it
    // from raw tables on every run). d8/d10/d22 already read the tier;
    // c10 was the last consumer paying the convergence loop + LSH
    // banding per query (measured: 1.90 → ~0.6 s at sf0.1).
    val comp = graft.dedup.ClusterStore.lshComponents(s, dir)
      .select(col("doc_id"), col("component"))
    Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("bucket", expr(
        "cast(conv(substr(md5(cast(component as string)), 1, 4), 16, 10) as bigint) % 1000"))
      .withColumn("split",
        when(col("bucket") < 900, "train")
          .when(col("bucket") < 950, "val")
          .otherwise("test"))
  }

  val c10LeakageSafeSplitSql: String = s"""${graft.dedup.Dedup.componentsCte},
    labeled AS (
      SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.node)
    SELECT doc_id, component,
           ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 4))::BIGINT % 1000 AS bucket,
           CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 4))::BIGINT % 1000 < 900 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 4))::BIGINT % 1000 < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM labeled"""

  // =========================================================================
  // c11 — token-budget epoch mixing (deterministic fractional epochs)
  // =========================================================================

  /** Fill a fixed training-token budget across sources: each source
    * gets a budget share proportional to sqrt(its token mass)
    * (temperature T=2 over tokens — up-weights small sources), and its
    * docs repeat `budget_share / source_tokens` epochs. The fractional
    * epoch is realized per-doc by a deterministic md5 gate — a doc is
    * in the extra copy iff its hash bucket < frac — so the mix is
    * reproducible, shuffle-free past one |sources|-row aggregate, and
    * stable under corpus growth (same reasons as c1's hash split; no
    * rand(), no seed-order dependence). Integer arithmetic throughout:
    * sqrt is correctly-rounded IEEE in both engines (c7 precedent),
    * everything after is long division.
    *
    * 100 TB shape: one count shuffle to the source grain, a broadcast
    * of the |sources|-row epoch table back onto the corpus, then pure
    * map. The replicated stream (n_copies per doc) feeds c6-style
    * packing without ever materializing the repeats wide.
    */
  private val TokenBudget = 2000000L

  private val docTokens: Column =
    expr("size(split(regexp_replace(lower(trim(text)), ' +', ' '), ' '))")

  private val microBucket: Column =
    expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint) % 1000000")

  val c11TokenBudgetMix: Q = (s, dir) => {
    val docs = Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), col("source"), docTokens.as("doc_tokens"))
    val perSource = docs.groupBy("source")
      .agg(sum(col("doc_tokens")).as("src_tokens"))
      .withColumn("w_micro",
        round(sqrt(col("src_tokens").cast("double")) * 1e6).cast("long"))
    val tot = perSource.agg(sum("w_micro").as("tot_w"))
    val epochs = perSource.crossJoin(broadcast(tot))
      .withColumn("src_budget",
        expr(s"$TokenBudget * w_micro div tot_w"))
      .withColumn("epochs_micro",
        expr("src_budget * 1000000 div src_tokens"))
      .select("source", "src_tokens", "epochs_micro")
    docs.join(broadcast(epochs), "source")
      .select(
        col("doc_id"), col("source"), col("doc_tokens"),
        col("src_tokens"), col("epochs_micro"),
        (expr("epochs_micro div 1000000") +
          when(microBucket < expr("epochs_micro % 1000000"), 1L).otherwise(0L))
          .cast("long").as("n_copies"))
  }

  val c11TokenBudgetMixSql: String = s"""
    WITH d AS (
      SELECT doc_id, source,
             len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS doc_tokens
      FROM documents),
    ps AS (SELECT source, CAST(SUM(doc_tokens) AS BIGINT) AS src_tokens FROM d GROUP BY 1),
    w AS (SELECT source, src_tokens,
                 CAST(round(sqrt(CAST(src_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
          FROM ps),
    t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tot_w FROM w),
    e AS (SELECT source, src_tokens,
                 ($TokenBudget * w_micro // tot_w) * 1000000 // src_tokens AS epochs_micro
          FROM w CROSS JOIN t)
    SELECT d.doc_id, d.source, d.doc_tokens, e.src_tokens, e.epochs_micro,
           CAST(epochs_micro // 1000000
                + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000000
                            < epochs_micro % 1000000
                       THEN 1 ELSE 0 END AS BIGINT) AS n_copies
    FROM d JOIN e USING (source)"""

  // =========================================================================
  // c12 — curriculum ordering (distributed global sort position)
  // =========================================================================

  /** Deterministic easy→hard training order: difficulty is the exact
    * integer micro-average token length (long chars·1e6 div words, the
    * t2 signal), the global position comes from
    * [[graft.ops.DistributedRank]] — NOT a partition-less
    * `row_number()` window, which would one-task-sort the corpus (the
    * q72/q80 scale-killer shape the r4 audit banned) — and each doc
    * gets its 10-phase curriculum bucket by pure rank arithmetic.
    * Ties break on doc_id, so the order is total and reproducible.
    *
    * 100 TB shape: ONE range exchange (reused by the offsets branch via
    * ReuseExchange), a ≤|shuffle-partitions|-row offsets cumsum, and a
    * broadcast join — the same audited plan DistributedRank already
    * pins in DistributedRankSpec.
    */
  val c12Curriculum: Q = (s, dir) => {
    val docs = Tables.loadParallel(s, dir, "documents")
      .withColumn("tokens", expr("split(regexp_replace(lower(trim(text)), ' +', ' '), ' ')"))
      .select(col("doc_id"),
        expr("""aggregate(tokens, cast(0 as bigint), (a, t) -> a + length(t))
                * 1000000 div size(tokens)""").as("difficulty_micro"))
    graft.ops.DistributedRank.withGlobalRank(docs,
        Seq(col("difficulty_micro"), col("doc_id")), "train_order", "n_total")
      .withColumn("phase", expr("(train_order - 1) * 10 div n_total"))
      .select("doc_id", "difficulty_micro", "train_order", "n_total", "phase")
  }

  val c12CurriculumSql: String = """
    WITH d AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(
                    str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '),
                    t -> length(t))) AS BIGINT)
               * 1000000
               // len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '))
               AS difficulty_micro
      FROM documents),
    r AS (
      SELECT doc_id, difficulty_micro,
             row_number() OVER (ORDER BY difficulty_micro, doc_id) AS train_order,
             count(*) OVER () AS n_total
      FROM d)
    SELECT doc_id, difficulty_micro, train_order, n_total,
           CAST((train_order - 1) * 10 // n_total AS BIGINT) AS phase
    FROM r"""

  // =========================================================================
  // c13 — per-eval-doc contamination score (the dirtiness rate)
  // =========================================================================

  /** The reverse grain of c3: c3 lists TRAIN docs that leak into eval;
    * c13 scores each EVAL doc by how much of it appears in train — the
    * GPT-3-appendix-C-style "dirtiness" rate used to split benchmarks
    * into clean/dirty subsets. For every test-split doc (c1 buckets),
    * the fraction of its distinct word-3-gram shingles that occur in
    * ANY train-split doc, as integer basis points.
    *
    * Scale shape: one semi-join keyed on shingle — the eval side is a
    * benchmark-sized sliver (bounded, ~5% here; fixed-size in prod)
    * while train is the 100 TB side, so the right production plan
    * broadcasts the eval shingle set at the scan of train (AQE picks
    * the broadcast side; a Bloom filter over eval shingles is the
    * constant-memory variant when benchmarks grow). No join output
    * ever carries the train×eval pair grain — hits collapse to
    * per-shingle presence before the per-doc count.
    */
  val c13ContaminationScore: Q = (s, dir) => {
    val docs = graft.dedup.ShingleStore.served(s, dir)
      .withColumn("bucket", splitBucket)
      .select(col("doc_id"), col("bucket"), explode(col("shingles")).as("sh"))
      .registerCache()
    val trainSh = docs.filter(col("bucket") < 900).select("sh").distinct()
    val evalSh = docs.filter(col("bucket") >= 950)
      .select(col("doc_id").as("eval_doc"), col("sh"))
    // r15 (guide §2.4): one pass over the eval side instead of two —
    // trainSh is DISTINCT on the join key, so a left join has fan-out
    // exactly 1 per eval shingle and a presence flag reproduces the
    // old semi-join's hit count while count(*) is n_shingles; the
    // separate per-doc total, the second eval exchange and the
    // hits⟕totals reattach join all collapse into ONE aggregate.
    // The DuckDB oracle keeps the two-CTE semi-join form.
    evalSh.join(trainSh.withColumn("hit", lit(1L)), Seq("sh"), "left_outer")
      .groupBy("eval_doc")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_bp",
        expr("(10000 * n_contaminated) div n_shingles"))
  }

  val c13ContaminationScoreSql: String = {
    import graft.dedup.Dedup.{oracleShingles, oracleTokens}
    s"""WITH t AS (SELECT doc_id, $oracleBucket AS bucket, $oracleTokens AS tokens
                   FROM documents),
    s AS (SELECT doc_id, bucket, $oracleShingles AS sh FROM t),
    e AS (SELECT doc_id, bucket, unnest(sh) AS g FROM s),
    train AS (SELECT DISTINCT g FROM e WHERE bucket < 900),
    ev AS (SELECT doc_id AS eval_doc, g FROM e WHERE bucket >= 950),
    tot AS (SELECT eval_doc, count(*) AS n_shingles FROM ev GROUP BY 1),
    hit AS (SELECT eval_doc, count(*) AS n_contaminated
            FROM ev JOIN train USING (g) GROUP BY 1)
    SELECT t.eval_doc, t.n_shingles,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           (10000 * coalesce(h.n_contaminated, 0)) // t.n_shingles
             AS contamination_bp
    FROM tot t LEFT JOIN hit h ON t.eval_doc = h.eval_doc"""
  }

  // =========================================================================
  // c14 — dataset card: per-source corpus statistics
  // =========================================================================

  /** The "datasheet" aggregate every released training mix ships with
    * (Gebru et al.'s datasheets / HF dataset cards): per source, the
    * volume and composition numbers a consumer needs to weigh it —
    * doc count, token count, mean doc length (integer micros),
    * distinct languages, and the short-doc share in basis points (the
    * t2 "too_short" bucket's rate, a fast proxy for extraction junk).
    *
    * One map-side-combined aggregate to |sources| rows — count/sum/
    * max fold partially per partition, count(DISTINCT lang) expands to
    * the (source, lang) grain first, still bounded by
    * |sources|·|langs|. At 100 TB this is the cheapest query in the
    * suite: a single exchange of a few hundred partial-agg rows.
    */
  val c14DatasetCard: Q = (s, dir) =>
    Tables.loadParallel(s, dir, "documents")
      .withColumn("n_tokens",
        expr("size(split(regexp_replace(lower(trim(text)), ' +', ' '), ' '))"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(when(col("n_tokens") < 10, 1L).otherwise(0L)).as("n_short"))
      .withColumn("mean_tokens_micro",
        expr("total_tokens * 1000000 div n_docs"))
      .withColumn("short_bp", expr("n_short * 10000 div n_docs"))

  val c14DatasetCardSql: String = """
    WITH d AS (
      SELECT source, lang,
             len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '))
               AS n_tokens
      FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT lang) AS n_langs,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(n_tokens) AS BIGINT) * 1000000 // count(*) AS mean_tokens_micro,
           CAST(SUM(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // count(*) AS short_bp
    FROM d GROUP BY source"""

  /** c15 — water-filling token-budget allocation: give every source
    * its full token supply up to a common water level λ, where λ is
    * the exact level that spends a budget of 95% of the corpus (the
    * "trim the over-represented head, keep the tail whole" rebalance
    * a pretraining mix does before temperature sampling — c7/c11's
    * missing sibling: those *weight* sources, this *caps* them).
    *
    * The classic algorithm needs sources sorted by supply: a source is
    * fully-satisfiable (capped) iff giving its supply to every
    * not-yet-capped source stays under the remaining budget —
    * `supply_i·(n−i+1) ≤ B − cum_{i−1}`, a prefix property (proof in
    * the water-filling literature; the condition is pure integer
    * multiplication, so it is exact cross-engine). λ is then ONE
    * integer division over the uncapped remainder. Per-doc keeps are
    * c11's md5 micro-bucket at rate alloc/supply.
    *
    * Scale shape: the only corpus-sized exchange is the map-combined
    * groupBy(source); the sort + windows run on the SOURCE grain
    * (|sources| rows — a data-model dimension, not data volume), the
    * scalar (n, B, k, cum_k) frames are one-row broadcasts (q39's
    * shape), and the allocation joins back to docs as a broadcast.
    */
  val c15WaterfillBudget: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), col("source"), docTokens.as("doc_tokens"))
    val w = Window.orderBy(col("src_tokens"), col("source"))
    val perSource = docs.groupBy("source")
      .agg(sum(col("doc_tokens")).as("src_tokens"))
    val tot = perSource.agg(
      sum("src_tokens").as("tot_tokens"),
      count(lit(1)).as("n_src"))
      .withColumn("budget", expr("tot_tokens * 95 div 100"))
    val ranked = perSource.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum("src_tokens").over(w))
      .withColumn("capped",
        (col("src_tokens") * (col("n_src") - col("rn") + 1) <=
          col("budget") - (col("cum") - col("src_tokens"))).cast("int"))
    val kFrame = ranked.filter(col("capped") === 1)
      .agg(coalesce(max("rn"), lit(0L)).as("k"),
        coalesce(max("cum"), lit(0L)).as("cum_k"))
    val alloc = ranked.crossJoin(broadcast(kFrame))
      .withColumn("level",
        when(col("k") < col("n_src"),
          expr("(budget - cum_k) div (n_src - k)"))
          .otherwise(lit(null).cast("long")))
      .withColumn("alloc_tokens",
        when(col("capped") === 1, col("src_tokens")).otherwise(col("level")))
      .select("source", "src_tokens", "alloc_tokens", "capped")
    docs.join(broadcast(alloc), "source")
      .withColumn("keep_micro", expr("alloc_tokens * 1000000 div src_tokens"))
      .select(col("doc_id"), col("source"), col("src_tokens"),
        col("alloc_tokens"), col("capped"),
        when(microBucket < col("keep_micro"), 1).otherwise(0).as("keep"))
  }

  val c15WaterfillBudgetSql: String = """
    WITH d AS (
      SELECT doc_id, source,
             len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS doc_tokens
      FROM documents),
    ps AS (SELECT source, CAST(SUM(doc_tokens) AS BIGINT) AS src_tokens FROM d GROUP BY 1),
    t AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot_tokens,
                 CAST(count(*) AS BIGINT) AS n_src,
                 CAST(SUM(src_tokens) AS BIGINT) * 95 // 100 AS budget
          FROM ps),
    r AS (
      SELECT source, src_tokens, n_src, budget,
             CAST(row_number() OVER (ORDER BY src_tokens, source) AS BIGINT) AS rn,
             CAST(sum(src_tokens) OVER (ORDER BY src_tokens, source) AS BIGINT) AS cum
      FROM ps CROSS JOIN t),
    c AS (
      SELECT *, CASE WHEN src_tokens * (n_src - rn + 1)
                          <= budget - (cum - src_tokens)
                     THEN 1 ELSE 0 END AS capped
      FROM r),
    kf AS (SELECT coalesce(max(CASE WHEN capped = 1 THEN rn END), 0) AS k,
                  coalesce(max(CASE WHEN capped = 1 THEN cum END), 0) AS cum_k
           FROM c),
    a AS (
      SELECT source, src_tokens, capped,
             CASE WHEN capped = 1 THEN src_tokens
                  ELSE (budget - cum_k) // (n_src - k) END AS alloc_tokens
      FROM c CROSS JOIN kf)
    SELECT d.doc_id, d.source, a.src_tokens,
           CAST(a.alloc_tokens AS BIGINT) AS alloc_tokens, a.capped,
           CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000000
                     < a.alloc_tokens * 1000000 // a.src_tokens
                THEN 1 ELSE 0 END AS keep
    FROM d JOIN a USING (source)"""

  /** c16 — whole-document best-fit-decreasing packing: c6 splits
    * documents across context-window boundaries; this is the OTHER
    * production packing mode — each document lands whole in exactly
    * one bin (no cross-document attention contamination, no document
    * straddling a window edge), bins are filled best-fit over the
    * descending token-size order, and a document longer than the
    * context gets a bin of its own (the overflow the trainer
    * truncates).
    *
    * Sequential-by-nature, so the parallelism contract is explicit:
    * documents hash-shard exactly as c6's (same md5 bucket), each
    * shard packs INDEPENDENTLY inside one `flatMapGroups` task, and
    * the in-task state is bounded — at most `OpenCap` open bins (a
    * bin that no remaining doc can improve is closed); memory is
    * O(OpenCap), never O(shard). At 100 TB the knob is NShards: shards
    * size to executor memory exactly like c6's per-shard window sort.
    * BFD's 11/9·OPT+1 bound holds per shard; the spec pins the
    * packing invariants and the bound. The stateful fold IS
    * SQL-expressible after all: the DuckDB oracle replays it as a
    * recursive CTE whose working row per shard carries the open-bin
    * list as a LIST<STRUCT(bid,rem)> column (q85's recursive-CTE
    * precedent, one iteration per doc in the shard's descending-size
    * spine) — so c16 gets the same three-gate hash check as every
    * other query.
    */
  private val OpenCap = 64
  val c16BestfitPack: Q = (s, dir) => {
    import s.implicits._
    val base = Tables.loadParallel(s, dir, "documents")
      .withColumn("n_tokens", docTokens.cast("long"))
      .withColumn("shard",
        expr(s"cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % $NShards"))
      .select(col("doc_id").cast("long"), col("shard"), col("n_tokens"))
      .as[(Long, Long, Long)]
    base.groupByKey(_._2)
      .flatMapGroups { (shard, it) =>
        val docs = it.toArray.sortBy(d => (-d._3, d._1))
        // open bins as (binId, remaining); closed once full-enough
        val open = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var nextBin = 0L
        for ((docId, _, n) <- docs) {
          if (n >= CtxLen) { // own bin, never reused
            out += ((docId, shard, nextBin, n)); nextBin += 1
          } else {
            // best fit: smallest remaining that still holds n
            var best = -1
            var bestRem = Long.MaxValue
            var i = 0
            while (i < open.length) {
              val rem = open(i)._2
              if (rem >= n && rem < bestRem) { best = i; bestRem = rem }
              i += 1
            }
            if (best >= 0) {
              val (bid, rem) = open(best)
              out += ((docId, shard, bid, n))
              val left = rem - n
              // docs are descending: if nothing can fit, close the bin
              if (left == 0 || left < docs.last._3) open.remove(best)
              else open(best) = (bid, left)
            } else {
              out += ((docId, shard, nextBin, n))
              open += ((nextBin, CtxLen - n)); nextBin += 1
              if (open.length > OpenCap) open.remove(0) // oldest closes
            }
          }
        }
        out.iterator
      }
      .toDF("doc_id", "shard", "bin_id", "n_tokens")
  }

  /** DuckDB oracle for c16: the BFD fold replayed as a recursive CTE.
    * One working row per shard per iteration; the open-bin ArrayBuffer
    * becomes a LIST<STRUCT(bid,rem)> column, best-fit = index of the
    * first bin holding the minimal remaining capacity ≥ n (same
    * first-of-ties rule as the Scala while-loop), bin close / OpenCap
    * eviction replicated with list slices. Iterations = max docs per
    * shard (bounded: NShards is the parallelism knob), working set =
    * NShards rows × ≤OpenCap structs.
    */
  val c16BestfitPackSql: String = s"""
    WITH RECURSIVE
    d0 AS MATERIALIZED (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % $NShards AS shard,
             CAST(len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    docs AS MATERIALIZED (
      SELECT *, row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
      FROM d0),
    shardinfo AS MATERIALIZED (
      SELECT shard, min(n_tokens) AS min_n FROM docs GROUP BY 1),
    pack AS (
      SELECT shard, CAST(0 AS BIGINT) AS rn,
             CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS bin_id,
             CAST(NULL AS BIGINT) AS n_tokens,
             CAST([] AS STRUCT(bid BIGINT, rem BIGINT)[]) AS open,
             CAST(0 AS BIGINT) AS next_bin
      FROM shardinfo
      UNION ALL
      SELECT shard, rn, doc_id,
             CASE WHEN big OR best_i IS NULL THEN p_next_bin
                  ELSE open_arr[best_i].bid END AS bin_id,
             n_tokens,
             CASE WHEN big THEN open_arr
                  WHEN best_i IS NOT NULL THEN
                    CASE WHEN open_arr[best_i].rem - n_tokens = 0
                           OR open_arr[best_i].rem - n_tokens < min_n
                         THEN list_concat(open_arr[1:best_i-1], open_arr[best_i+1:])
                         ELSE list_concat(list_concat(open_arr[1:best_i-1],
                                [{'bid': open_arr[best_i].bid,
                                  'rem': open_arr[best_i].rem - n_tokens}]),
                                open_arr[best_i+1:])
                    END
                  WHEN len(open_arr) + 1 > $OpenCap
                         THEN list_concat(open_arr[2:],
                                [{'bid': p_next_bin, 'rem': $CtxLen - n_tokens}])
                  ELSE list_append(open_arr, {'bid': p_next_bin, 'rem': $CtxLen - n_tokens})
             END AS open,
             CASE WHEN big OR best_i IS NULL THEN p_next_bin + 1
                  ELSE p_next_bin END AS next_bin
      FROM (
        SELECT *,
               CASE WHEN big THEN NULL
                    ELSE list_filter(range(1, len(open_arr) + 1),
                                     i -> open_arr[i].rem = best_rem)[1]
               END AS best_i
        FROM (
          SELECT d.shard AS shard, d.rn AS rn, d.doc_id AS doc_id,
                 d.n_tokens AS n_tokens, si.min_n AS min_n,
                 p.open AS open_arr, p.next_bin AS p_next_bin,
                 (d.n_tokens >= $CtxLen) AS big,
                 list_min(list_transform(list_filter(p.open, x -> x.rem >= d.n_tokens),
                                         x -> x.rem)) AS best_rem
          FROM pack p
          JOIN docs d ON d.shard = p.shard AND d.rn = p.rn + 1
          JOIN shardinfo si ON si.shard = p.shard
        )
      )
    )
    SELECT doc_id, shard, bin_id, n_tokens FROM pack WHERE rn >= 1"""

  /** c17 — effective mixture after dedup: the question every sampling
    * plan (c2/c7/c11) actually needs answered is not "how many raw
    * tokens does each source hold" but "how many SURVIVE dedup, and
    * what mixture does that imply". Exact dedup (d1's content key,
    * min-doc_id survivor) reattributes each duplicate cluster to its
    * survivor's source — so a source that is 40 % mirrored copies of
    * another contributes ~nothing, and the renormalized weight exposes
    * exactly how far the raw mixture lied. Weights are basis points
    * via integer division (hash-stable; d22's rand_bp precedent).
    *
    * Scale shape: one content-hash exchange (shared by survivor pick
    * and copy count — a single aggregate) + one source-grain agg;
    * both map-side combine. No pairs, no windows over the corpus.
    */
  val c17EffectiveMix: Q = (s, dir) => {
    // cached (r15, guide §2.4): d feeds the kept path (keyed
    // content_hash) AND the raw path (keyed source) — two different
    // exchange keys, so Catalyst plans two independent scans and the
    // regexp tokenize + md5 over every document ran TWICE; the cache
    // holds only the four narrow derived columns, never the text
    val d = Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("size(split(regexp_replace(lower(trim(text)), ' +', ' '), ' '))")
          .as("n_tokens"),
        md5(regexp_replace(lower(trim(col("text"))), " +", " "))
          .as("content_hash"))
      .registerCache()
    val kept = d
      .groupBy("content_hash")
      .agg(expr("min_by(named_struct('source', source, 'n_tokens', n_tokens), doc_id)")
        .as("k"))
      .select(col("k.source").as("source"), col("k.n_tokens").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"), sum("n_tokens").as("kept_tokens"))
    val raw = d.groupBy("source")
      .agg(count(lit(1)).as("raw_docs"), sum("n_tokens").as("raw_tokens"))
    val total = kept.agg(sum("kept_tokens").as("total_kept"))
    // Left join from raw: a source whose documents ALL lose their dedup
    // clusters to other sources (a fully mirrored source) must still
    // appear, with kept_docs=0 / weight_bp=0 — that row IS the finding.
    raw.join(kept, Seq("source"), "left")
      .crossJoin(broadcast(total))
      .select(col("source"), col("raw_docs"), col("raw_tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        expr("coalesce(kept_tokens, 0L) * 10000 div total_kept").as("weight_bp"))
  }

  val c17EffectiveMixSql: String = """
    WITH d AS (
      SELECT doc_id, source,
             len(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS n_tokens,
             md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS content_hash
      FROM documents),
    surv AS (
      SELECT content_hash, arg_min(source, doc_id) AS source,
             arg_min(n_tokens, doc_id) AS n_tokens
      FROM d GROUP BY content_hash),
    kept AS (
      SELECT source, count(*) AS kept_docs,
             CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
      FROM surv GROUP BY source),
    raw AS (
      SELECT source, count(*) AS raw_docs,
             CAST(sum(n_tokens) AS BIGINT) AS raw_tokens
      FROM d GROUP BY source),
    tot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS total_kept FROM kept)
    SELECT source, raw_docs, raw_tokens,
           coalesce(kept_docs, 0) AS kept_docs,
           coalesce(kept_tokens, 0) AS kept_tokens,
           coalesce(kept_tokens, 0) * 10000 // total_kept AS weight_bp
    FROM raw LEFT JOIN kept USING (source) CROSS JOIN tot"""

  /** c18 — mixture divergence: KL(actual ‖ target) between the corpus's
    * raw per-source document mixture and c7's temperature-flattened
    * target, per-source contribution in micro-nats. This is the
    * monitoring number for a sampling plan: c7 SAYS what the mixture
    * should be, c18 measures how far the corpus (or a sampled epoch)
    * actually is from it — drift here means the sampler or the
    * sourcing moved. Negative contributions are sources the corpus
    * UNDER-represents vs target; the (positive) total is the KL.
    *
    * Determinism: p_i = n_i/N and q_i = w_i/W are exact rationals;
    * ln(p_i/q_i) decomposes to ln(n_i) − ln(N) − ln(w_i) + ln(W),
    * each ln quantized ONCE to integer micros (t13's rule) before the
    * integer combine, so no float sum ever forms. The contribution is
    * emitted as the pure product p_micro·lnratio_micro (pico-nats) —
    * no integer division of a possibly-negative value, whose
    * floor-vs-truncate semantics diverge cross-engine (q74's lesson).
    *
    * Scale shape: everything after the one |sources|-row count
    * aggregate (map-side combined) runs on the |sources| grain; the
    * two totals are one-row broadcast scalars (c7's exact pattern).
    */
  val c18MixKl: Q = (s, dir) => {
    val perSource = Tables.loadParallel(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val tot = perSource.agg(sum("n_docs").as("tot_docs"), sum("w_micro").as("tot_w"))
    def lnMicro(x: String) = s"cast(round(1e6 * ln(cast($x as double))) as bigint)"
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 div tot_docs").as("p_micro"),
        expr("w_micro * 1000000 div tot_w").as("q_micro"),
        expr(s"""(${lnMicro("n_docs")} - ${lnMicro("tot_docs")}
                  - ${lnMicro("w_micro")} + ${lnMicro("tot_w")})""")
          .as("lnratio_micro"))
      // contribution stays a pure PRODUCT (pico-nats): no integer
      // division of a possibly-negative value, whose floor-vs-truncate
      // semantics diverge cross-engine (q74's lesson)
      .select(col("source"), col("n_docs"), col("p_micro"), col("q_micro"),
        col("lnratio_micro"),
        (col("p_micro") * col("lnratio_micro")).as("kl_contrib_pico"))
  }

  val c18MixKlSql: String = {
    def lnMicro(x: String) = s"CAST(round(1e6 * ln(CAST($x AS DOUBLE))) AS BIGINT)"
    s"""
    WITH ps AS (
      SELECT source, count(*) AS n_docs,
             CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
      FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
                 CAST(sum(w_micro) AS BIGINT) AS tot_w FROM ps),
    r AS (
      SELECT source, n_docs,
             n_docs * 1000000 // tot_docs AS p_micro,
             w_micro * 1000000 // tot_w AS q_micro,
             (${lnMicro("n_docs")} - ${lnMicro("tot_docs")}
              - ${lnMicro("w_micro")} + ${lnMicro("tot_w")}) AS lnratio_micro
      FROM ps CROSS JOIN t)
    SELECT source, n_docs, p_micro, q_micro, lnratio_micro,
           p_micro * lnratio_micro AS kl_contrib_pico
    FROM r"""
  }

  // =========================================================================
  // c19 — dataset version diff
  // =========================================================================

  /** Snapshot-to-snapshot corpus diff — the governance readout a
    * versioned training set needs before re-training on "the same
    * dataset, refreshed": per source, how many documents were added,
    * removed, changed, or untouched between version N and N+1, and
    * the net character delta. The algorithm is the production one: a
    * doc-keyed full outer join of the two snapshots comparing a
    * CONTENT hash (md5 of the text), so a re-crawled byte-identical
    * doc is "unchanged" no matter what its storage metadata did —
    * io/Clone tracks lineage of copies, this tracks drift of content.
    *
    * Version N+1 is synthesized deterministically in-query (t5's
    * fixture discipline — the corpus carries one snapshot): an
    * md5(doc_id) percent-bucket removes 5%, rewrites 7%, and adds 3%
    * as new doc_ids above a high offset. Both engines derive the same
    * v2, so the oracle checks the DIFF algebra, not the fixture.
    *
    * Scale shape: ONE equi-join on doc_id (both sides co-partitioned
    * by the join key) and a map-combined rollup onto the |sources|×4
    * status grain. Linear in the corpus, no window, no skew surface —
    * doc_id is unique on each side by construction.
    */
  val c19DatasetDiff: Q = (s, dir) => {
    val v1 = Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("bucket",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint) % 100"))
    // v2's two arms (kept-or-rewritten, bucket >= 5; added, bucket < 3)
    // are disjoint, so each v1 row yields at most one v2 row: one
    // filter + one projection over v1, not a union of two v1 reads
    val added = col("bucket") < 3
    val v2 = v1.filter(col("bucket") >= 5 || added)
      .select(
        when(added, col("doc_id") + 1000000000L).otherwise(col("doc_id")).as("doc_id"),
        col("source"),
        when(added, concat(lit("new "), col("text")))
          .when(col("bucket") < 12, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    val joined = v1.select(col("doc_id"), col("source").as("src1"),
        md5(col("text")).as("h1"), length(col("text")).cast("long").as("len1"))
      .join(v2.select(col("doc_id"), col("source").as("src2"),
          md5(col("text")).as("h2"), length(col("text")).cast("long").as("len2")),
        Seq("doc_id"), "full_outer")
    joined.select(
        coalesce(col("src1"), col("src2")).as("source"),
        when(col("h2").isNull, "removed")
          .when(col("h1").isNull, "added")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("len2"), lit(0L)) - coalesce(col("len1"), lit(0L))).as("delta"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum("delta").as("chars_delta"))
  }

  val c19DatasetDiffSql: String = """
    WITH v1 AS (
      SELECT doc_id, source, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
      FROM documents),
    v2 AS (
      SELECT doc_id, source,
             CASE WHEN bucket < 12 THEN text || ' rev2' ELSE text END AS text
      FROM v1 WHERE bucket >= 5
      UNION ALL
      SELECT doc_id + 1000000000, source, 'new ' || text
      FROM v1 WHERE bucket < 3),
    j AS (
      SELECT coalesce(a.source, b.source) AS source,
             CASE WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.doc_id IS NULL THEN 'added'
                  WHEN md5(a.text) <> md5(b.text) THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(length(b.text), 0) - coalesce(length(a.text), 0) AS delta
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
    SELECT source, status, count(*) AS n_docs,
           CAST(SUM(delta) AS BIGINT) AS chars_delta
    FROM j GROUP BY source, status"""

  // =========================================================================
  // c20 — epoch reshuffle decorrelation audit
  // =========================================================================

  /** Multi-epoch training wants a DIFFERENT document order every epoch
    * (epoch-correlated order re-creates the same gradient schedule and
    * wastes the reshuffle's regularization), while staying perfectly
    * reproducible. The engine's epoch order is `md5(doc_id ':' epoch)`
    * — deterministic, seedless, and independent across epochs by hash
    * avalanche. This query PROVES the independence instead of
    * asserting it: per epoch pair, the Spearman rank correlation of
    * the two orders, in integer micros — |ρ| should sit near 0 (the
    * null stderr is 1/√(n−1)), and a buggy order key (e.g. hashing
    * doc_id alone) would print ρ = 10⁶ and fail review instantly.
    *
    * Per-epoch ranks come from ONE DistributedRank pass over the
    * (doc × epoch) frame sorted by (epoch, hash, doc_id), converted to
    * within-epoch ranks by subtracting each epoch's broadcast min
    * offset (m5's exact pattern) — never a partition-less window.
    * ρ = 1 − 6Σd²/(n(n²−1)) with Σd² summed exactly in
    * DECIMAL(38,0)/HUGEINT (Σd² ~ n³/3 — int64 would wrap silently at
    * ~1.6×10⁴ docs per epoch once the ·6·10⁶ scale lands, the r7
    * advice finding); decimal keeps ρ exact to n ≈ 2.7×10¹⁰, past
    * which (and long before, for COST) the audit runs on a c5-style
    * fixed-size sample (documented knob, same number, bounded cost).
    */
  val c20EpochShuffle: Q = (s, dir) => {
    val epochs = 3
    val ranked = graft.ops.DistributedRank.withGlobalRank(
      Tables.loadParallel(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr(s"sequence(1, $epochs)")).as("epoch"))
        .withColumn("h", md5(concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string")))),
      Seq(col("epoch"), col("h"), col("doc_id")), "gr", "n_total")
    val offsets = ranked.groupBy("epoch").agg(min("gr").as("off"))
    val ranks = ranked.join(broadcast(offsets), "epoch")
      .select(col("doc_id"), col("epoch"), (col("gr") - col("off") + 1L).as("rk"))
    val pairs = ranks.as("a").join(ranks.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.epoch") < col("b.epoch"))
      .select(col("a.epoch").as("e1"), col("b.epoch").as("e2"),
        ((col("a.rk") - col("b.rk")) * (col("a.rk") - col("b.rk"))).as("d2"))
    pairs.groupBy("e1", "e2")
      // Σd² ≈ n³/3: the sum accumulates in DECIMAL(38,0) (long wraps
      // silently at n ≈ 2×10⁶ docs per epoch — one scale step up) and
      // the ρ arithmetic stays decimal end-to-end: 6·Σd²·10⁶ ≈
      // 2·10⁶·n³ wraps int64 at n ≈ 1.6×10⁴ (the r7 advice finding),
      // in decimal it is exact to n ≈ 2.7×10¹⁰; DuckDB sums BIGINT
      // into HUGEINT natively, so both engines floor the same
      // rational. Per-row d2 ≤ n² keeps int64 to n ≈ 3×10⁹.
      .agg(count(lit(1)).as("n"),
        sum(col("d2").cast("decimal(38,0)")).as("sd2"))
      .select(col("e1"), col("e2"), col("n"),
        expr("""1000000 - (6 * sd2 * 1000000)
                div (cast(n as decimal(38,0)) * (cast(n as decimal(38,0)) * n - 1))""")
          .as("rho_micro"))
  }

  val c20EpochShuffleSql: String = """
    WITH f AS (
      SELECT doc_id, epoch,
             md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS h
      FROM documents, (SELECT unnest([1, 2, 3]) AS epoch)),
    r AS (
      SELECT doc_id, epoch,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS rk
      FROM f),
    p AS (
      SELECT a.epoch AS e1, b.epoch AS e2,
             (a.rk - b.rk) * (a.rk - b.rk) AS d2
      FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.epoch < b.epoch)
    SELECT e1, e2, count(*) AS n,
           CAST(1000000 - (6 * CAST(SUM(d2) AS HUGEINT) * 1000000)
             // (CAST(count(*) AS HUGEINT) * (CAST(count(*) AS HUGEINT)*count(*) - 1))
             AS BIGINT) AS rho_micro
    FROM p GROUP BY e1, e2"""

  val queries: Map[String, Q] = Map(
    "c20_epoch_shuffle" -> c20EpochShuffle,
    "c19_dataset_diff" -> c19DatasetDiff,
    "c18_mix_kl" -> c18MixKl,
    "c17_effective_mix" -> c17EffectiveMix,
    "c16_bestfit_pack" -> c16BestfitPack,
    "c15_waterfill_budget" -> c15WaterfillBudget,
    "c14_dataset_card" -> c14DatasetCard,
    "c13_contamination_score" -> c13ContaminationScore,
    "c12_curriculum" -> c12Curriculum,
    "c11_token_budget_mix" -> c11TokenBudgetMix,
    "c10_leakage_safe_split" -> c10LeakageSafeSplit,
    "c9_weighted_sample" -> c9WeightedSample,
    "c8_packing_stats" -> c8PackingStats,
    "c7_temperature_mix" -> c7TemperatureMix,
    "c1_hash_split"    -> c1HashSplit,
    "c2_corpus_mix"    -> c2CorpusMix,
    "c3_decontaminate" -> c3Decontaminate,
    "c4_quality_gate"  -> c4QualityGate,
    "c5_stratified_sample" -> c5StratifiedSample,
    "c6_sequence_packing"  -> c6SequencePacking,
  )

  val oracleSql: Map[String, String] = Map(
    "c20_epoch_shuffle" -> c20EpochShuffleSql,
    "c19_dataset_diff" -> c19DatasetDiffSql,
    "c18_mix_kl" -> c18MixKlSql,
    "c17_effective_mix" -> c17EffectiveMixSql,
    "c16_bestfit_pack" -> c16BestfitPackSql,
    "c15_waterfill_budget" -> c15WaterfillBudgetSql,
    "c14_dataset_card" -> c14DatasetCardSql,
    "c13_contamination_score" -> c13ContaminationScoreSql,
    "c12_curriculum" -> c12CurriculumSql,
    "c11_token_budget_mix" -> c11TokenBudgetMixSql,
    "c10_leakage_safe_split" -> c10LeakageSafeSplitSql,
    "c9_weighted_sample" -> c9WeightedSampleSql,
    "c8_packing_stats" -> c8PackingStatsSql,
    "c7_temperature_mix" -> c7TemperatureMixSql,
    "c1_hash_split"    -> c1HashSplitSql,
    "c2_corpus_mix"    -> c2CorpusMixSql,
    "c3_decontaminate" -> c3DecontaminateSql,
    "c4_quality_gate"  -> c4QualityGateSql,
    "c5_stratified_sample" -> c5StratifiedSampleSql,
    "c6_sequence_packing"  -> c6SequencePackingSql,
  )
}
