package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.io.DerivedStore
import graft.io.DerivedStore.Refresh

/** Materialized shingle tier — the TokenStore argument applied to the
  * d-family, the engine's most re-computed prefix after tokens: every
  * lexical dedup query starts from the same per-doc artifacts
  * (word tokens → distinct 3-gram shingles → an md5-derived long per
  * shingle for MinHash, an md5-derived long per token for SimHash),
  * and before this tier each of d2-d7/d11/d13/d14/d16/d18/d20/d27
  * recomputed them from raw `text` per query.
  *
  * The tier stores the artifacts DOC-GRAIN (one row per doc, array
  * columns) rather than exploded:
  *
  *  - signature/simhash consumers fold the arrays per row — exploded
  *    storage would force a corpus-wide groupBy to reassemble them;
  *  - exploded consumers (`sh` joins) get their rows back with one
  *    cheap explode over the pruned (doc_id, lang, shingles) read;
  *  - parquet column pruning turns each consumer's read into exactly
  *    the artifacts it needs: d4 reads 16 bytes-per-token `hs` and
  *    never the shingle strings; d5 reads shingles and never `hm`.
  *
  * The md5 work (one md5 per shingle + one per token — the dominant
  * map cost of the whole family) is paid once per corpus snapshot at
  * build time; queries read longs.
  *
  * Freshness/publication/GC ride [[DerivedStore.served]]
  * like every other tier; shingling is a pure per-doc map, so
  * append-only corpus growth refreshes at O(Δ) with the re-ingestion
  * key guard routing overlap to the full rebuild. At 100 TB the tier
  * is several × the corpus (the TokenStore trade, accepted for the
  * same reason: it feeds an 11-query family every day).
  */
object ShingleStore {

  /** Per-doc artifacts over a `documents`-shaped frame: doc_id,
    * source, lang, tokens, shingles, hm (minhash-ready longs), hs
    * (simhash-ready longs). The per-doc map the tier materializes and
    * the merge re-runs on deltas. Fixture corpora missing the
    * descriptive columns (spec tables carrying only doc_id+text)
    * produce a narrower tier — the artifacts themselves never depend
    * on them. */
  private[graft] def artifactsOf(docs: DataFrame): DataFrame = {
    val keep = Seq("doc_id", "source", "lang").filter(docs.columns.contains) ++
      Seq("tokens", "shingles", "hm", "hs")
    Dedup.withShingles(docs)
      .withColumn("hm", expr(Dedup.HmExpr))
      .withColumn("hs", expr(Dedup.HsExpr))
      .select(keep.map(col): _*)
  }

  /** Inline (self-contained) artifact frame — the ground truth the
    * served tier is row-equal to (`ShingleStoreSpec`). */
  val artifacts: (SparkSession, String) => DataFrame = (s, dir) =>
    artifactsOf(Tables.loadParallel(s, dir, "documents"))

  /** The corpus-snapshot shingle tier. LSM-published (r12): an
    * append-only corpus night writes only the delta's artifacts as
    * sorted runs beside the byte-copied base — the md5 work was
    * already O(Δ); now the IO is too. */
  def served(s: SparkSession, dir: String): DataFrame =
    DerivedStore.served(s, dir, "shingles", Seq("documents"), artifacts,
      Refresh.Lsm(DerivedStore.perKeyDelta("documents", "doc_id")(
        (_, _, _, docs) => artifactsOf(docs))),
      numFiles = 8, sortKey = "doc_id", summaryKey = Some("doc_id"))

  /** The exploded (doc_id, lang, sh) rows `Dedup.shingleRows` used to
    * compute inline, read from the tier instead. `keep` mirrors
    * shingleRows' contract. */
  def shingleRows(s: SparkSession, dir: String,
                  keep: Seq[String] = Seq("doc_id", "lang")): DataFrame =
    served(s, dir)
      .select(keep.map(col) :+ explode(col("shingles")).as("sh"): _*)
}
