package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.io.DerivedStore
import graft.io.DerivedStore.Refresh

/** Materialized dup-cluster tier — the GraphStore/TokenStore
  * build-once pattern applied to the dedup family's most expensive
  * shared intermediate: CONNECTED-COMPONENT labels.
  *
  * `Dedup.components` is a convergence loop with a driver action per
  * round — precisely the computation a pipeline should pay once per
  * corpus snapshot, not once per consumer. Two tiers:
  *
  *  - `lsh`: components over the d3 MinHash-LSH candidate pairs —
  *    the lexical dup-cluster labels (doc_id, component), consumed by
  *    d8 (cluster readout), d10 (survivorship election) and d22
  *    (cluster agreement).
  *  - `emb`: components over the s4 embedding near-dup pairs — the
  *    semantic cluster labels, consumed by d9 and d22.
  *
  * Labels cover only docs that appear in ≥1 candidate pair
  * (singletons are their own implicit cluster — every consumer
  * already handles that via anti-join/coalesce, and materializing
  * corpus-sized identity rows would bloat the tier for no reader).
  *
  * Freshness/atomicity ride [[DerivedStore]]: fingerprint-keyed
  * rebuild on source drift, staged OCC versioned publish. Layout is
  * range-sorted on doc_id so per-file stats prune doc-keyed lookups
  * ("which cluster is this doc in" serves from one file).
  *
  * The inline forms remain the ground truth (`ClusterStoreSpec` pins
  * served == inline row-equal), and the DuckDB oracles still compute
  * components independently from the raw tables — the three-gate hash
  * check re-proves tier == inline on every Verify run.
  */
object ClusterStore {

  /** Inline ground truth: components over d3's LSH candidate pairs.
    * Columns: doc_id, component. */
  def lshComponentsInline(s: SparkSession, dir: String): DataFrame =
    Dedup.components(Dedup.d3LshPairs(s, dir))

  /** Inline ground truth: components over s4's embedding near-dup
    * pairs. Columns: doc_id, component. */
  def embComponentsInline(s: SparkSession, dir: String): DataFrame =
    Dedup.components(graft.sim.Similarity.s4EmbeddingNeardup(s, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  /** Hash-bucket count of both label tiers' layout: labels REWRITE on
    * merge nights, so the LSM append can't represent them — the
    * bucketed publish rewrites only the buckets the night's relabels
    * touch and byte-copies the rest (r12 verdict #1). 32 buckets keeps
    * the per-touched-bucket fanout at tier/32 while a ≤32-value driver
    * collect decides the copy set. */
  private val LabelBuckets = 32

  /** Store-served lexical dup-cluster labels. Refreshed as
    * [[DerivedStore.Refresh.Bucketed]]: append-only corpus growth
    * refreshes the labels from only the delta-touching pairs
    * ([[lshComponentsUpserts]]), and the publish rewrites only the
    * doc_id-buckets those relabels live in. A re-ingested existing
    * doc_id breaks the old×old-pairs-cannot-change argument the
    * contraction rests on, so [[DerivedStore.perKeyDelta]]'s guard
    * rebuilds instead of mislabeling. */
  def lshComponents(s: SparkSession, dir: String): DataFrame =
    DerivedStore.served(s, dir, "lsh_components", Seq("documents"),
      lshComponentsInline,
      Refresh.Bucketed(DerivedStore.perKeyDelta("documents", "doc_id")(
        lshComponentsUpserts), LabelBuckets),
      numFiles = 4, sortKey = "doc_id", summaryKey = Some("doc_id"))

  /** Store-served semantic cluster labels, incrementally refreshed
    * under append-only embedding growth ([[embComponentsUpserts]]) —
    * s4's label block and quantization are per-vector, so the same
    * old-pairs-cannot-change property the lexical merge rests on
    * holds here. */
  def embComponents(s: SparkSession, dir: String): DataFrame =
    DerivedStore.served(s, dir, "emb_components", Seq("embeddings"),
      embComponentsInline,
      Refresh.Bucketed(embComponentsUpserts, LabelBuckets),
      numFiles = 4, sortKey = "doc_id", summaryKey = Some("doc_id"))

  /** Incremental connected components under append-only corpus growth.
    *
    * Banding is doc-local, so old×old pairs cannot change: every NEW
    * pair touches ≥1 delta doc. The delta docs' band keys probe the
    * standing [[BandIndexStore.corpusIndex]] (itself incrementally
    * refreshed by the same drift — the tiers compose) for d3's exact
    * pair contract, then old components are CONTRACTED to their label
    * node (the component's min doc_id) and the convergence loop runs
    * on that graph — |delta pairs| edges, never the historical pair
    * set. Labels stay the global min doc_id: an old component's label
    * IS its min, so the contracted minimum equals the full rebuild's
    * (`IncrementalTierSpec` pins row-equality).
    *
    * Cost: O(Δ-bands ⋈ band tier) + CC over delta-touching pairs +
    * O(|tier|) relabel join — against the full rebuild's corpus-wide
    * band self-join and a convergence loop shuffling EVERY historical
    * pair per round. */
  private def lshComponentsUpserts(s: SparkSession, dir: String, prev: DataFrame,
                                   deltaDocs: DataFrame): DataFrame = {
    val deltaBands = Dedup.bandKeysOf(deltaDocs)
    val allBands = BandIndexStore.corpusIndex(s, dir)
    // d3's pair contract (canonical doc_a < doc_b, distinct), restricted
    // to pairs with a delta endpoint; no forced broadcast — a day-sized
    // delta may exceed the broadcast budget at 100 TB, and AQE picks
    // the broadcast side when it does fit
    val newPairs = deltaBands.as("n")
      .join(allBands.as("c"),
        col("n.band_idx") === col("c.band_idx") &&
        col("n.band_hash") === col("c.band_hash") &&
        col("n.doc_id") =!= col("c.doc_id"))
      .select(least(col("n.doc_id"), col("c.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("c.doc_id")).as("doc_b"))
      .distinct()
    contractedUpserts(prev, newPairs)
  }

  /** Semantic twin of [[lshComponentsUpserts]]: delta embeddings quantize
    * alone, s4's pair contract restricted to delta-touching pairs, then
    * the same label contraction. */
  private def embComponentsUpserts(s: SparkSession, dir: String, prev: DataFrame,
                                   deltas: Map[String, Seq[String]]): Option[DataFrame] = {
    val paths = deltas.getOrElse("embeddings", Seq.empty)
    if (paths.isEmpty) return Some(prev.limit(0))
    val deltaRaw = Tables.loadFiles(s, dir, "embeddings", paths)
    // same precondition as the lexical merge: a re-ingested vec_id
    // invalidates the contraction — rebuild. The delta side carries the
    // rename so the probe key matches the tier's summarized column
    // (doc_id) and the sidecar fast paths stay eligible (r11 review)
    if (DerivedStore.deltaKeysOverlap(
          prev, deltaRaw.select(col("vec_id").as("doc_id")), "doc_id"))
      return None
    val delta = graft.sim.Similarity.quantizedOf(deltaRaw)
    Some(contractedUpserts(prev,
      graft.sim.Similarity.neardupPairsTouching(delta,
        graft.sim.Similarity.quantized(s, dir))))
  }

  /** The shared incremental step: contract old components to their
    * label node (the component's min doc_id), run the convergence loop
    * over only `newPairs` (each touching ≥1 new doc), then emit the
    * UPSERTS — exactly the rows whose label changes (old docs whose
    * component was relabeled) plus the rows entering the tier (delta
    * docs and formerly-singleton old docs). Identity relabels are
    * filtered so an untouched cluster disturbs no bucket; the bucketed
    * publish byte-copies everything the upserts don't reach. */
  private def contractedUpserts(prev: DataFrame,
                                newPairs: DataFrame): DataFrame = {
    // contract: an endpoint inside an old component participates as its
    // label; singletons and delta docs participate as themselves
    val labA = prev.select(col("doc_id").as("doc_a"), col("component").as("comp_a"))
    val labB = prev.select(col("doc_id").as("doc_b"), col("component").as("comp_b"))
    val contracted = newPairs
      .join(labA, Seq("doc_a"), "left").join(labB, Seq("doc_b"), "left")
      .select(coalesce(col("comp_a"), col("doc_a")).as("doc_a"),
        coalesce(col("comp_b"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val relabel = Dedup.components(contracted) // (doc_id=node, component)
    // old rows follow their re-labelled component — identity mappings
    // dropped, they change nothing and would only widen the touched
    // bucket set; relabelMap is delta-sized (components() output over
    // delta-touching pairs), so the broadcast is bounded by the night
    val relabelMap = relabel
      .select(col("doc_id").as("component"), col("component").as("next_component"))
      .filter(col("component") =!= col("next_component"))
    val changedOld = prev.join(broadcast(relabelMap), Seq("component"), "inner")
      .select(col("doc_id"), col("next_component").as("component"))
    // nodes that are NOT old labels — delta docs and formerly-singleton
    // old docs — enter the tier directly with their new component
    val labelNodes = prev.select(col("component").as("doc_id")).distinct()
    val directRows = relabel.join(labelNodes, Seq("doc_id"), "left_anti")
    changedOld.unionByName(directRows)
  }
}
