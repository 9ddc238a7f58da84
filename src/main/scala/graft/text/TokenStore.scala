package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.io.{DerivedStore, SortedLayout}
import graft.io.DerivedStore.Refresh

/** Materialized token tier — the T1-derived-table pattern
  * (`Airflow_week.py:270`, `AWS_GLUE_ETL.py:79-132`: raw loads feed
  * once-computed domain tables that every downstream job reads)
  * applied to the text stack: tokenize ONCE per corpus snapshot and
  * serve every tf/df consumer (k1/k3/k4/k6/k7, q39 BM25, q40/q69
  * postings) from the stored stream instead of re-running the
  * tokenize+explode prefix per query.
  *
  * Served through [[DerivedStore.served]] — the same
  * freshness/publication/GC contract as every other tier
  * (fingerprint-keyed against `documents`, versioned OCC commit,
  * keep-2 vacuum), with the append-only fast path: tokenization is a
  * pure per-doc map, so a daily part-file arrival refreshes the tier
  * at O(Δ) (tokenize only the delta, union beside history) and the
  * re-ingestion guard ([[DerivedStore.perKeyDelta]]) routes key
  * overlap to the full rebuild.
  *
  * Layout: range-sorted on `term` ([[SortedLayout.writeRangeSorted]])
  * so per-file min/max stats prune term-filtered reads (the BM25 tf
  * lookup, q69's posting fetches) down to single files — at 100 TB
  * the token tier is bigger than the corpus, so its layout matters
  * more. Doc-grain consumers (k1's tf) pay the same single
  * hash(doc_id) exchange they paid inline, minus the tokenize work
  * and minus the full `text` column read (column pruning reads only
  * `doc_id`+`term` for a tf query).
  */
object TokenStore {

  /** Same normalization as `Keywords`/`SearchDsl` (lower, trim,
    * whitespace-collapse, split) over a `documents`-shaped frame —
    * the per-doc map the tier materializes and the merge re-runs on
    * deltas. Columns: doc_id, source, lang, pos, term. */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("lang"),
      posexplode(expr("split(regexp_replace(lower(trim(text)), ' +', ' '), ' ')"))
        .as(Seq("pos", "term")))

  /** Inline (self-contained) token stream — the semantic ground truth
    * the served tier is row-equal to (`TokenStoreSpec`), and what the
    * DuckDB oracles compute independently from the raw table. */
  val tokens: (SparkSession, String) => DataFrame = (s, dir) =>
    tokensOf(Tables.loadParallel(s, dir, "documents"))

  /** The corpus-snapshot token tier: build once per snapshot, serve
    * every downstream token consumer. LSM-published (r12): an
    * append-only corpus night byte-copies the served version and
    * writes only `tokensOf(delta)` as sorted runs — O(Δ) compute AND
    * O(Δ) IO, where the plain merge still paid a full-tier range
    * shuffle + rewrite every night. Tokens are a pure per-doc map, so
    * the next version is exactly prev ∪ tokensOf(delta). */
  def served(s: SparkSession, dir: String): DataFrame =
    DerivedStore.served(s, dir, "tokens", Seq("documents"), tokens,
      Refresh.Lsm(DerivedStore.perKeyDelta("documents", "doc_id")(
        (_, _, _, docs) => tokensOf(docs))),
      numFiles = 8, sortKey = "term", summaryKey = Some("doc_id"))

  /** Term-keyed lookup over the served tier, file-pruned by the
    * publish-time zone map: the tier is range-sorted on `term`
    * ([[served]]'s sortKey), so its `_filemap` manifest holds disjoint
    * per-file term ranges and a point term opens ≤2 data files — the
    * BM25 tf / posting-fetch access path that at a 200k-file tier
    * would otherwise pay a footer open per file just to prune. Falls
    * back to the footer-pruned scan on a manifest-less (legacy)
    * version; either way the exact predicate still applies. */
  def termScan(s: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    served(s, dir): Unit // freshness: publish/refresh before locating the version
    val store = DerivedStore.storePath(dir, "tokens")
    val v = graft.io.AtomicPublish.currentVersion(s, store)
      .getOrElse(sys.error(s"tokens tier absent under $store after serve"))
    graft.io.ZoneMap.scanForKeys(s, s"$store/v=$v", "term", terms)
      .filter(col("term").isin(terms: _*))
  }

  /** Explicit-dir materialization (the pre-tier lifecycle, kept for
    * pipelines that own their storage layout — `TextPipelineE2ESpec`'s
    * publish flow); snapshot-keyed serving should use [[served]]. */
  def materialize(spark: SparkSession, dir: String, path: String,
                  numFiles: Int = 8): Unit =
    SortedLayout.writeRangeSorted(tokens(spark, dir), path, numFiles, col("term"))

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** k1's top-keywords computed from an explicit store instead of
    * re-tokenizing — identical output, tokenize cost paid once at
    * materialize time. (The registry k1 serves from [[served]]; this
    * is the explicit-dir twin `TextPipelineE2ESpec` drives.)
    */
  def topKeywordsFromStore(spark: SparkSession, path: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is")
    val toks = load(spark, path)
      .filter(!col("term").isin(stop: _*))
      .select("doc_id", "term")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(df, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("term").as("keyword"), col("tf"), col("df"),
        col("rank").as("kywr_rank"))
  }
}
