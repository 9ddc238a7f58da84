package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caching.RegisterSyntax
import graft.core.Tables
import graft.io.{DerivedStore, SortedLayout}
import graft.io.DerivedStore.Refresh

/** Persisted standing LSH band index — the dedup-side lifecycle twin
  * of `sim/AnnIndex` (round-7 verdict #3's pattern, applied to d15's
  * seam).
  *
  * d15 proves the incremental-dedup JOIN shape (batch band keys ⋈
  * corpus band index, O(|batch| + matched buckets) per day); this
  * store is the artifact that makes it a production lifecycle:
  *
  *  - [[build]] writes the corpus's (doc_id, band_idx, band_hash)
  *    keys range-sorted on `band_hash`, so a batch's bucket probes
  *    prune to the files whose min/max straddle its hashes;
  *  - [[append]] adds an ingested batch's band keys to the standing
  *    index — tomorrow's batch dedups against today's arrivals
  *    without any rebuild (band keys are a pure per-doc map, so
  *    append IS rebuild for this artifact — no geometry to go stale,
  *    unlike AnnIndex's frozen centroids; the spec pins the
  *    equivalence);
  *  - appends accumulate small unsorted files; `io/Compaction
  *    .compact` folds them back without changing the row set.
  *
  * [[dedupBatch]] reproduces d15's exact output contract (every batch
  * doc reported, matched or not, with its distinct corpus-candidate
  * count) — `BandIndexStoreSpec` pins store-served == d15-inline on
  * d15's own deterministic split, so the oracle gate transitively
  * checks the store path every round.
  */
object BandIndexStore {

  /** (doc_id, band_idx, band_hash) for a slice of `documents`-shaped
    * rows — the shared shingle→minhash→band pipeline. */
  def bandKeys(docs: DataFrame): DataFrame =
    Dedup.bandKeysOf(docs)

  /** Materialize the standing index from a corpus slice. */
  def build(docs: DataFrame, indexDir: String, numFiles: Int = 8): Unit =
    SortedLayout.writeRangeSorted(bandKeys(docs), indexDir, numFiles,
      col("band_hash"))

  /** Add an ingested batch's band keys to the standing index. */
  def append(docs: DataFrame, indexDir: String): Unit =
    bandKeys(docs).write.mode("append").parquet(indexDir)

  /** The corpus-snapshot standing index, served through
    * [[DerivedStore]]: fingerprint-keyed against the `documents`
    * table, so a refreshed corpus snapshot rebuilds the bands instead
    * of silently serving stale ones (the freshness contract GraphStore
    * and ClusterStore already carry — the explicit-dir [[build]]/
    * [[append]] lifecycle has no source table to fingerprint, because
    * ingested batches ARE its source of truth; this entry point is for
    * the snapshot-derived tier).
    *
    * Append-only refresh: band keys are a pure per-doc map, so the next
    * version is exactly prev ∪ bands(delta) — the [[append]] lifecycle
    * expressed as [[DerivedStore.Refresh.Lsm]] (byte-copied base +
    * delta runs, O(Δ) band computation AND O(Δ) IO). Contract (the
    * append-only table contract generally): delta files carry NEW
    * doc_ids. File-grain drift classification can't see key overlap,
    * so [[DerivedStore.perKeyDelta]] ENFORCES it: a re-ingested
    * existing doc_id (which would silently duplicate its band rows and
    * diverge from a rebuild) is rejected and the full rebuild takes
    * over (AnnIndex.append's guard, with the graceful fallback a frame
    * tier affords). */
  def corpusIndex(s: SparkSession, dir: String): DataFrame =
    DerivedStore.served(s, dir, "band_index", Seq("documents"),
      // the tiers compose: the band build reads the shingle tier's
      // stored per-shingle longs (hm) — its md5 pass is never re-paid
      // here; a stale shingle tier refreshes first (re-entrant serve,
      // the lsh-components pattern). A key-overlap rejection from the
      // delta probe routes HERE, so the dirty-table rebuild still
      // composes through the shingle tier
      (s2, d) => Dedup.bandsOf(Dedup.signaturesOf(
        ShingleStore.served(s2, d).select("doc_id", "hm"))),
      Refresh.Lsm(DerivedStore.perKeyDelta("documents", "doc_id")(
        (_, _, _, docs) => bandKeys(docs))),
      numFiles = 8, sortKey = "band_hash", summaryKey = Some("doc_id"))

  /** [[dedupBatch]] against the snapshot-served [[corpusIndex]]. */
  def dedupBatchAgainstCorpus(s: SparkSession, dir: String,
                              batch: DataFrame): DataFrame =
    dedupAgainst(corpusIndex(s, dir), batch)

  def load(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(indexDir)

  /** Dedup an arriving batch against the standing index: d15's
    * output contract — (doc_id, n_corpus_matches, is_dup), every
    * batch doc present. The batch side is |batch|-sized; the index
    * side prunes to the probed buckets. */
  def dedupBatch(s: SparkSession, indexDir: String, batch: DataFrame): DataFrame =
    dedupAgainst(load(s, indexDir), batch)

  /** [[dedupBatch]] against an explicit index FRAME with the batch's
    * band keys PRECOMPUTED — what the streaming ingest uses: it
    * excludes its own replayed partition from the index, and the same
    * band frame feeds both this probe and the survivors' index append
    * (one shingle+md5 pass per batch, not two). */
  def dedupBatchWithBands(index: DataFrame, batch: DataFrame,
                          batchBands: DataFrame): DataFrame =
    dedupAgainst(index, batch, Some(batchBands))

  private def dedupAgainst(index: DataFrame, batch: DataFrame,
                           batchBands: Option[DataFrame] = None): DataFrame = {
    // persisted: the band frame feeds the probe join and is tiny next
    // to the shingle pipeline that produces it
    val nb = batchBands.getOrElse(bandKeys(batch).registerCache())
    val hits = nb.as("n")
      .join(index.as("c"),
        col("n.band_idx") === col("c.band_idx") &&
        col("n.band_hash") === col("c.band_hash"))
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(countDistinct(col("c.doc_id")).as("n_corpus_matches"))
    batch.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        (coalesce(col("n_corpus_matches"), lit(0L)) > 0).as("is_dup"))
  }
}
