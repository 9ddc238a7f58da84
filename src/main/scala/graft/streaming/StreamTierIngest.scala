package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.dedup.BandIndexStore
import graft.io.{DerivedStore, IdempotentWriter}

/** Streaming corpus ingest with standing-index maintenance — d15's
  * incremental-dedup lifecycle as a Structured Streaming job: each
  * arriving micro-batch of documents is deduped against the
  * PERSISTENT LSH band index (content-keyed, so a re-crawl under a
  * new doc_id is still a dup), the survivors land in the corpus sink,
  * and their band keys extend the index — so tomorrow's batch dedups
  * against today's arrivals with no batch re-serve in between.
  *
  * Exactly-once without a transactional sink: BOTH writes are
  * batch-id-keyed dynamic partition refreshes
  * ([[IdempotentWriter.partitionRefresh]] — the fileIngest pattern),
  * and the probe EXCLUDES the current batch's own index partition, so
  * Structured Streaming's crash-replay contract (same batchId, same
  * data) recomputes identical survivors and overwrites its own
  * partitions instead of matching the batch against its own
  * half-written bands (which would silently drop every replayed doc).
  *
  * Contract notes: dedup is against the index as of the batch's start
  * (d15's exact semantics); WITHIN-batch duplicates both survive —
  * exact dups can be dropped at the gate with `intraBatchExact`, and
  * within-batch NEAR-dup families are dropped at the next compaction
  * when [[foldSurvivors]] runs with `nearDupAtFold` (the d3 band pass
  * over the folded delta).
  *
  * Per-batch cost: the batch-side compute (shingle + md5 + minhash,
  * the dominant work) is O(|batch|) and paid once per batch. The probe
  * base has two layers: freshly-ingested `ingest_batch=<id>`
  * partitions (partitioned for replay idempotency — no key pruning
  * possible, but bounded: only batches since the last fold), and the
  * COMPACTED base maintained by [[fold]] — `band_bucket`-partitioned
  * (bucket = hash of band_hash), hash-sorted within, so each batch's
  * probe statically prunes the compacted scan to the ≤ [[Buckets]]
  * partitions its own band hashes can reach. [[fold]] runs on the
  * nightly `pipeline/TierRefresh` cadence ([[graft.pipeline.TierRefresh
  * .streamFoldJob]]): it moves every REPLAY-IMMUNE batch partition
  * (id ≤ the checkpoint's last committed batch — Structured Streaming
  * never re-runs those) into the compacted base and deletes the moved
  * partitions, so per-batch probe I/O stays O(|matched buckets| +
  * |since-last-fold|) instead of growing with ingest history. What
  * never re-runs is the HISTORY'S compute: no text is re-read, no md5
  * re-paid. The SURVIVORS sink gets the same treatment from
  * [[foldSurvivors]]: without it the corpus grows one partition dir
  * per micro-batch forever (unbounded listing cost for every
  * downstream consumer); with it, replay-immune survivor partitions
  * fold into a doc_id-range-sorted corpus base on the same nightly
  * cadence, and [[syncCorpus]] publishes the folded delta into the
  * warehouse corpus table as append-only part files — the stream-era
  * feed of the standing tiers' O(Δ) merge paths.
  *
  * Fold replay-safety: a batch in the crash window (sink writes landed,
  * checkpoint commit didn't) is by construction NOT folded — its
  * partition stays live, the replay overwrites it, and the probe's
  * self-partition exclusion keeps working. Folded index rows carry
  * `ingest_batch = -1` (the bootstrap's id), which no real batch id
  * can collide with; folded survivor rows keep their real batch id so
  * [[syncCorpus]] can watermark what it has published. A fold crash
  * between commit and partition delete leaves duplicate rows across
  * the two layers — harmless to the probe (matches count DISTINCT
  * corpus docs) and removed by the next fold's distinct.
  */
object StreamTierIngest {

  /** Partition-bucket fanout of the compacted base. More buckets =
    * finer probe pruning and more parallel fold writes; at test scale
    * 64 keeps directories readable, at warehouse scale the per-bucket
    * FILE count scales with index bytes (the fold sizes its writer
    * from the on-disk footprint), not the bucket count. */
  private[streaming] val Buckets = 64

  private[streaming] def bucketOf(bandHash: org.apache.spark.sql.Column) =
    pmod(abs(hash(bandHash)), lit(Buckets))

  private def compactedStore(dir: String): String = s"$dir/.compacted"

  /** Seed the stream-owned index from a corpus snapshot (partition
    * `ingest_batch=-1`; every later batch owns `ingest_batch=<id>`).
    * Pre-stream only: once a fold has produced a compacted base, the
    * watermark records the bootstrap as folded, so a re-written `-1`
    * partition would be classified as an already-folded crash leftover
    * and deleted unfolded — silent key loss. Refused loudly; seed
    * additional documents through the stream (they dedup against the
    * standing index, which is the gate's contract). */
  def bootstrapIndex(corpus: DataFrame, indexDir: String): Unit = {
    val s = corpus.sparkSession
    require(graft.io.AtomicPublish
        .currentVersion(s, compactedStore(indexDir)).isEmpty,
      s"bootstrapIndex($indexDir): the index already has a folded compacted " +
        "base; a re-bootstrap's rows would be mistaken for already-folded " +
        "crash leftovers at the next fold and deleted unfolded. Ingest new " +
        "seed documents through the stream instead.")
    recordSources(s, indexDir, tableNamesOf(corpus))
    IdempotentWriter.partitionRefresh(
      BandIndexStore.bandKeys(corpus).withColumn("ingest_batch", lit(-1L)),
      indexDir, "ingest_batch"): Unit
  }

  /** The standing index as a frame (the `ingest_batch` column rides
    * along; consumers key on (band_idx, band_hash, doc_id)): live
    * batch partitions ∪ the compacted base (as `ingest_batch = -1`). */
  def index(s: SparkSession, indexDir: String): DataFrame =
    probeBase(s, indexDir, None)

  /** [[index]] with the compacted-base scan statically pruned to
    * `buckets` (a probing batch's own band buckets) — partition-dir
    * pruning, no driver-side key collection beyond ≤ [[Buckets]]
    * values. Safe for any probe joining on band_hash: a compacted row
    * outside the batch's buckets can never match its hashes. */
  private[streaming] def probeBase(s: SparkSession, indexDir: String,
                                   buckets: Option[Seq[Int]]): DataFrame = {
    val cols = Seq("doc_id", "band_idx", "band_hash", "ingest_batch")
    val live =
      if (livePartitions(s, indexDir).nonEmpty)
        Some(s.read.parquet(indexDir).selectExpr(cols: _*))
      else None
    val store = compactedStore(indexDir)
    val compacted = graft.io.AtomicPublish.currentVersion(s, store).map { v =>
      val c = s.read.parquet(s"$store/v=$v")
      buckets.fold(c)(bs => c.filter(col("band_bucket").isin(bs: _*)))
        .withColumn("ingest_batch", lit(-1L))
        .selectExpr(cols: _*)
    }
    (live, compacted) match {
      case (Some(l), Some(c)) => l.unionByName(c)
      case (Some(l), None)    => l
      case (None, Some(c))    => c
      // neither layer exists: surface the same error a plain read gives
      case (None, None)       => s.read.parquet(indexDir)
    }
  }

  /** The stream-grown corpus as one frame: live `ingest_batch=<id>`
    * survivor partitions ∪ the compacted base maintained by
    * [[foldSurvivors]]. Listing cost after N batches is
    * O(since-last-fold), not O(N) — the fold bounds it. */
  def survivors(s: SparkSession, survivorsDir: String): DataFrame = {
    val live =
      if (livePartitions(s, survivorsDir).nonEmpty)
        Some(s.read.parquet(survivorsDir)
          .withColumn("ingest_batch", col("ingest_batch").cast("long")))
      else None
    val store = compactedStore(survivorsDir)
    val compacted = graft.io.AtomicPublish.currentVersion(s, store)
      .map(v => s.read.parquet(s"$store/v=$v"))
    (live, compacted) match {
      case (Some(l), Some(c)) => l.unionByName(c)
      case (Some(l), None)    => l
      case (None, Some(c))    => c
      case (None, None)       => s.read.parquet(survivorsDir)
    }
  }

  /** The `ingest_batch=<id>` partition dirs currently live (unfolded)
    * in the index dir, bootstrap (-1) included. */
  private def livePartitions(s: SparkSession, indexDir: String): Seq[(Long, Path)] = {
    val p = new Path(indexDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_batch="))
      .flatMap(st => st.getPath.getName.stripPrefix("ingest_batch=").toLongOption
        .map(_ -> st.getPath))
      .toSeq
  }

  private val CheckpointMarker = "_checkpoint"

  /** The checkpoint's IDENTITY: the query id Structured Streaming
    * writes once into `<checkpoint>/metadata` when the checkpoint is
    * created. None before the first start() materializes it. Binding
    * to the identity, not just the path (r11 advice), is what makes a
    * deleted-and-recreated checkpoint at the same path detectable —
    * the recreated one carries a fresh id. */
  private def checkpointIdentity(s: SparkSession, checkpoint: String): Option[String] = {
    val p = new Path(checkpoint, "metadata")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.io.Sidecar.read(fs, p)
      .flatMap("\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(_))
      .map(_.group(1))
  }

  /** Bind a batch-id-keyed dir to the checkpoint that owns its ids:
    * the marker records the checkpoint's qualified path AND its
    * identity (query id from the checkpoint's own metadata — written
    * once at creation) on first contact, and both are validated on
    * every later start()/fold(). Batch ids are CHECKPOINT-scoped — a
    * fold or restart driven by a foreign checkpoint would fold a batch
    * the true checkpoint still considers pending (whose replay then
    * self-matches against the compacted base and empties its survivors
    * partition) or overwrite committed partitions; a checkpoint
    * DELETED AND RECREATED at the same path restarts batch ids at 0,
    * so the next fold would misclassify the new stream's partitions as
    * already-folded crash leftovers (ids ≤ the compacted watermark)
    * and delete them unfolded — path equality alone cannot see this,
    * the identity check can. The id is recorded lazily (a first
    * start() precedes the checkpoint's creation) and pinned forever on
    * first contact with a materialized checkpoint. Deleting the marker
    * is the operator's explicit "I know the ids align" override. */
  private def bindCheckpoint(s: SparkSession, dir: String,
                             checkpoint: String, surface: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val cp = new Path(checkpoint)
    val qckpt = cp.getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(cp).toString
    val curId = checkpointIdentity(s, checkpoint)
    val mp = new Path(p, CheckpointMarker)
    def writeMarker(): Unit = {
      fs.mkdirs(p): Unit
      graft.io.Sidecar.write(fs, mp, (qckpt +: curId.map("id=" + _).toSeq).mkString("\n"))
    }
    graft.io.Sidecar.read(fs, mp) match {
      case None => writeMarker()
      case Some(txt) =>
        val lines = txt.split("\n")
        val recorded = lines.head
        val recordedId = lines.find(_.startsWith("id=")).map(_.stripPrefix("id="))
        require(recorded == qckpt,
          s"$surface: dir $dir is bound to checkpoint $recorded but was invoked " +
            s"with $qckpt. Batch ids are checkpoint-scoped; mixing checkpoints " +
            "silently corrupts batch-id-keyed partitions. Use the original " +
            "checkpoint, or clear checkpoint+dirs together (delete the " +
            s"$CheckpointMarker marker only if the ids provably align).")
        (recordedId, curId) match {
          case (Some(r), Some(c)) =>
            require(r == c,
              s"$surface: dir $dir is bound to checkpoint identity $r but $qckpt " +
                s"now carries identity $c — the checkpoint was deleted and " +
                "recreated at the same path. Its batch ids restart at 0, so the " +
                "next fold would misclassify the new stream's partitions as " +
                "already-folded crash leftovers and delete them unfolded. " +
                "Restore the original checkpoint, or clear checkpoint+dirs " +
                s"together (delete the $CheckpointMarker marker only if the ids " +
                "provably align).")
          case (Some(r), None) =>
            require(false,
              s"$surface: dir $dir is bound to checkpoint identity $r but " +
                s"$qckpt has no metadata — the checkpoint was deleted. A fresh " +
                "stream at this path restarts batch ids at 0 over batch-id-keyed " +
                "state. Restore the checkpoint, or clear checkpoint+dirs " +
                "together.")
          case (None, Some(_)) =>
            // pre-identity marker (first bind ran before the checkpoint
            // materialized, or a legacy marker): pin the id now
            writeMarker()
          case (None, None) => () // nothing to verify yet
        }
    }
  }

  // ---------------------------------------------------------------------
  // Provenance: which logical source tables feed this gate
  // ---------------------------------------------------------------------

  private val SourcesMarker = "_sources"

  /** Record the logical source-table names feeding a batch-id-keyed
    * dir (idempotent union): [[bootstrapIndex]] derives them from the
    * corpus frame's input files, [[start]] from the stream source
    * dir's basename. The fold commits them as each compacted
    * version's provenance-only fingerprint ([[DerivedStore
    * .provenanceOnly]]) so `tools/Lineage` traverses a stream-index
    * scan to its raw tables like any DerivedStore tier. */
  private def recordSources(s: SparkSession, dir: String,
                            names: Seq[String]): Unit = {
    if (names.isEmpty) return
    val p = new Path(dir, SourcesMarker)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val existing = recordedSources(s, dir)
    if (!names.forall(existing.contains)) {
      fs.mkdirs(new Path(dir)): Unit
      graft.io.Sidecar.write(fs, p, (existing ++ names).distinct.sorted.mkString("\n"))
    }
  }

  private[streaming] def recordedSources(s: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir, SourcesMarker)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.io.Sidecar.read(fs, p).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty)
  }

  /** Table names a frame was read from: scan-root basenames under the
    * warehouse's `<table>.parquet` dir convention. Collected from the
    * ANALYZED plan, not `inputFiles` — a cached frame's optimized plan
    * substitutes InMemoryRelation and reports no files at all. */
  private def tableNamesOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName)
          case _ => Seq.empty[String]
        }
    }.flatten.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).distinct

  /** Max numeric entry in a checkpoint metadata-log dir, -1 when none
    * — commits/<id> and offsets/<id> share this shape. */
  private def maxLogEntry(s: SparkSession, checkpoint: String,
                          sub: String): Long = {
    val p = new Path(checkpoint, sub)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .foldLeft(-1L)(math.max)
  }

  /** The last batch id the checkpoint has COMMITTED — ids ≤ this are
    * replay-immune (Structured Streaming resumes at lastCommitted+1);
    * -1 when nothing committed yet. */
  private def lastCommittedBatch(s: SparkSession, checkpoint: String): Long =
    maxLogEntry(s, checkpoint, "commits")

  // ---------------------------------------------------------------------
  // The nightly fold: shared LSM machinery for both compacted stores
  // ---------------------------------------------------------------------

  /** Layout + bookkeeping hooks distinguishing the two compacted
    * stores the gate maintains: the band INDEX (bucket-partitioned,
    * hash-sorted key triples) and the SURVIVORS corpus (doc_id-range-
    * sorted full rows, optional d3 pass on the folded delta). The
    * fold protocol — watermark, minor/major split, publication,
    * partition delete — is identical; only these hooks differ. */
  private final case class FoldShape(
      surface: String,
      /** Raw partition read → (frame to fold in, row count readable
        * after the staged write — "rows read from the folded
        * partitions" — and a cleanup run after the count). */
      prepare: DataFrame => (DataFrame, () => Long, () => Unit),
      /** Read a committed base for the full/rewrite modes. */
      readBase: (SparkSession, Path) => DataFrame,
      /** Range-sort + write `numFiles` files under the store's layout. */
      write: (DataFrame, String, Int, SaveMode) => Unit,
      /** Flat-layout stores whose versions carry a file-grain
        * `ingest_batch` `_filemap` (and, on rewrite nights, a
        * [[SyncDeltaDir]] copy) so [[syncCorpus]] prunes its delta read
        * on every night. False for the bucketed index layout —
        * ZoneMap's contract is flat dirs, and nothing syncs from the
        * index. */
      batchManifest: Boolean = false)

  /** Fold every replay-immune live batch partition (id ≤ the
    * checkpoint's last committed batch; the bootstrap always) into the
    * band_bucket-partitioned compacted base, then delete the folded
    * partitions — the nightly compaction that keeps the per-batch
    * probe scan bounded by the compaction interval instead of ingest
    * history (the reference's daily rebuild of the tiers its online
    * path serves from, `Airflow_week.py:332-377`). Versioned-OCC like
    * every tier: readers (including a concurrently running stream's
    * next micro-batch) see the old base or the new one, never a
    * partial mix. Run it between stream triggers (the nightly shape);
    * if a micro-batch races the post-commit partition delete, its
    * probe either double-reads a folded row (harmless — matches count
    * DISTINCT corpus docs) or fails on a vanished file and is retried
    * by the stream's own replay, which recomputes identical survivors.
    *
    * LSM-shaped cost: each version records the max folded batch id in
    * a [[FoldedMarker]], so a crash between commit and partition
    * delete is cleaned by DELETING the already-folded partitions —
    * never a distinct() over history. Every later fold is one
    * [[DerivedStore.stageLsmStep]], the compaction step the LSM tiers
    * take: a minor APPEND (the served base's data files byte-copied, the
    * delta written beside them as sorted runs — ~one file per bucket
    * per fold) until the base's file count exceeds
    * [[DerivedStore.fileBudget]] with a floor of 2 × [[Buckets]] (128
    * ideal files, so a 512-file budget until the base passes 32 GB),
    * then one MAJOR REWRITE (base ∪ delta range-sorted from scratch)
    * that restores the tight layout — probe-side file opens stay
    * bounded without a history shuffle every night. A version commits
    * through [[DerivedStore.commitStaged]] like a tier's: its `_refresh`
    * record reads `mode=full layout=range` (first fold), `mode=merge
    * layout=lsm-append` or `mode=merge layout=lsm-rewrite`.
    *
    * Returns the [[Folded]] outcome, or None when nothing is foldable
    * (re-running a folded night is a no-op; crash-cleanup of
    * already-folded partitions also reports None). */
  def fold(s: SparkSession, indexDir: String,
           checkpoint: String): Option[Folded] =
    foldCompacted(s, indexDir, checkpoint, indexShape)

  private def indexShape: FoldShape = {
    val keyCols = Seq("doc_id", "band_idx", "band_hash")
    FoldShape(
      surface = "fold",
      prepare = { raw =>
        val obs = new Observation()
        val f = raw.select(keyCols.map(col): _*)
          // the observed count is the run-log row count — no re-scan
          // of the freshly-written base
          .observe(obs, count(lit(1)).as("rows"))
          .withColumn("band_bucket", bucketOf(col("band_hash")))
        (f, () => obs.get("rows").asInstanceOf[Long], () => ())
      },
      readBase = (s2, pp) => s2.read.parquet(pp.toString)
        .select(keyCols.map(col): _*)
        .withColumn("band_bucket", bucketOf(col("band_hash"))),
      write = (df, p, numFiles, mode) =>
        df.repartitionByRange(numFiles, col("band_bucket"), col("band_hash"))
          .sortWithinPartitions("band_bucket", "band_hash")
          .write.partitionBy("band_bucket").mode(mode).parquet(p))
  }

  /** [[fold]]'s survivors-side twin: compacts replay-immune
    * `ingest_batch=<id>` SURVIVOR partitions into a doc_id-range-
    * sorted corpus base under the same watermark/checkpoint/OCC
    * discipline — without it the corpus sink accumulates one
    * partition dir per micro-batch forever. Folded rows KEEP their
    * real `ingest_batch` (as a plain long column) so [[syncCorpus]]
    * can watermark which batches it has published.
    *
    * `nearDupAtFold`: also run d3's band pass over the folded delta —
    * WITHIN-batch near-dup families survive the ingest gate by
    * contract (the probe sees the index as of batch start and
    * excludes the batch's own partition); this discharges the "d1/d3's
    * job at the next compaction" promise in code. Cross-batch and
    * corpus near-dups were already gated at ingest, so the pass is
    * delta-confined: O(Δ) banding, component loop only when the delta
    * actually collides ([[dropNearDupFamilies]]'s count gate). The
    * dropped members' band keys stay in the STANDING INDEX by design:
    * they gate future re-crawls of that content, and a key pointing
    * at a dropped doc_id still answers is_dup correctly for its
    * surviving family (matches count distinct docs). */
  def foldSurvivors(s: SparkSession, survivorsDir: String, checkpoint: String,
                    nearDupAtFold: Boolean = false): Option[Folded] =
    foldCompacted(s, survivorsDir, checkpoint, survivorsShape(nearDupAtFold))

  private def survivorsShape(nearDup: Boolean): FoldShape = FoldShape(
    surface = "foldSurvivors",
    prepare = { raw =>
      // the partition column reads back as int; the base stores long
      val typed = raw.withColumn("ingest_batch", col("ingest_batch").cast("long"))
      if (!nearDup) {
        val obs = new Observation()
        (typed.observe(obs, count(lit(1)).as("rows")),
          () => obs.get("rows").asInstanceOf[Long], () => ())
      } else {
        // cached: the band pass reads the delta twice (pairs + the
        // anti-join) before the write does; an Observation would
        // double-count under the self-join, so the log count is one
        // cheap cached count() instead
        val cached = typed.persist()
        (dropNearDupFamilies(cached), () => cached.count(),
          () => { cached.unpersist(): Unit })
      }
    },
    readBase = (s2, pp) => s2.read.parquet(pp.toString),
    write = (df, p, numFiles, mode) =>
      graft.io.SortedLayout.writeRangeSorted(df, p, numFiles, mode, col("doc_id")),
    batchManifest = true)

  /** d3 confined to the folded delta: band the delta's docs, connect
    * the collisions (d8's min-label components), keep each family's
    * min doc_id. Count-gated: a delta with zero band collisions (the
    * common night) skips the component loop entirely. Deterministic —
    * same delta, same survivors — though the fold runs post-commit, so
    * replay determinism is not load-bearing here. */
  private[streaming] def dropNearDupFamilies(delta: DataFrame): DataFrame = {
    val bands = BandIndexStore.bandKeys(delta).persist()
    try {
      val pairs = graft.dedup.Dedup.lshPairsFromBands(bands)
      if (pairs.isEmpty) delta
      else {
        // components() runs its label loop eagerly and returns
        // checkpointed labels, so the anti-join below no longer
        // references the band cache
        val losers = graft.dedup.Dedup.components(pairs)
          .filter(col("component") =!= col("doc_id"))
          .select("doc_id")
        delta.join(losers, Seq("doc_id"), "left_anti")
      }
    } finally bands.unpersist(): Unit
  }

  /** What a committed fold did: `parts` folded partitions, `rows` read
    * from them (on the legacy-upgrade rewrite the PRE-distinct count,
    * so it can exceed what the distinct() lands), and how the version
    * was built — "full" (first fold), "append" (minor compaction) or
    * "rewrite" (major). */
  final case class Folded(parts: Int, rows: Long, mode: String)

  private def foldCompacted(s: SparkSession, dir: String, checkpoint: String,
                            shape: FoldShape): Option[Folded] = {
    // the same checkpoint-pairing invariant start() enforces: folding
    // with a foreign/ahead checkpoint would fold a batch the TRUE
    // checkpoint still considers pending — its replay then matches
    // itself in the compacted base and empties its survivors partition
    bindCheckpoint(s, dir, checkpoint, shape.surface)
    val committed = lastCommittedBatch(s, checkpoint)
    val foldable = livePartitions(s, dir).filter(_._1 <= committed)
    if (foldable.isEmpty) return None
    val store = compactedStore(dir)
    val fs = new Path(store).getFileSystem(s.sparkContext.hadoopConfiguration)
    val prevVersion = graft.io.AtomicPublish.currentVersion(s, store)
    val prevPath = prevVersion.map(v => new Path(s"$store/v=$v"))
    // watermark: partitions the served base already contains (left
    // behind by a crash between a fold's commit and its deletes) are
    // cleaned up by deletion alone — their rows are already in place
    val watermark = prevPath.flatMap(foldedWatermark(s, _))
    val (stale, freshParts) = foldable.partition {
      case (id, _) => watermark.exists(id <= _)
    }
    if (freshParts.isEmpty) {
      stale.foreach { case (_, p) => fs.delete(p, true): Unit }
      return None
    }
    val (fresh, rowsRead, cleanup) = shape.prepare(
      s.read.option("basePath", dir).parquet(freshParts.map(_._2.toString): _*))
    // a legacy base (no watermark) cannot prove the fresh partitions
    // aren't already folded in — route to the rewrite, whose distinct
    // restores idempotence once; every version after carries the marker
    val legacyBase = prevVersion.nonEmpty && watermark.isEmpty
    val freshBytes = freshParts.map(fp => DerivedStore.dirStats(s, fp._2)._2).sum
    // full (first fold) or major rewrite: one range-sorted write of
    // base ∪ delta. distinct() only for a legacy base whose content the
    // watermark can't vouch for
    def stageAll(baseBytes: Long): Path = graft.io.AtomicPublish.stageVersionWith(store) { p =>
      val base = prevPath.map(pp => shape.readBase(s, pp))
      val all0 = base.fold(fresh)(_.unionByName(fresh))
      val all = if (legacyBase) all0.distinct() else all0
      shape.write(all, p, DerivedStore.filesFor(freshBytes + baseBytes, 8), SaveMode.Overwrite)
    }
    val step = prevPath.map(pp =>
      DerivedStore.stageLsmStep(s, store, pp, budgetFloor = 2L * Buckets, freshBytes,
        forceRewrite = legacyBase)(
        (p, n) => shape.write(fresh, p, n, SaveMode.Append))(stageAll))
    val staging = step.fold(stageAll(0L))(_.staging)
    val mode = step.fold("full")(st => if (st.appended.isDefined) "append" else "rewrite")
    val maxFolded = (freshParts.map(_._1) ++ watermark).max
    graft.io.Sidecar.write(fs, new Path(staging, FoldedMarker), maxFolded.toString)
    if (shape.batchManifest)
      writeBatchSidecars(s, staging.toString, mode, step.flatMap(_.appended).getOrElse(Nil),
        prevPath, legacyBase, fresh, freshBytes, watermark, maxFolded, shape)
    // the provenance-only fingerprint (never fresh, never merge-eligible)
    // carries the gate's recorded source tables, so tools/Lineage
    // resolves a compacted-version scan to its raw tables like any tier
    DerivedStore.commitStaged(s, store, staging,
      DerivedStore.provenanceOnly(recordedSources(s, dir)),
      step.fold(DerivedStore.RefreshRecord("full", "range"))(_.record)): Unit
    // the count resolves BEFORE the folded partitions are deleted
    // (r12 review): on the cached-count path a lost/evicted block
    // would recompute its lineage from exactly those dirs — counting
    // after the deletes would fail a fold that already committed
    val rows = rowsRead()
    cleanup()
    foldable.foreach { case (_, p) => fs.delete(p, true): Unit }
    Some(Folded(foldable.size, rows, mode))
  }

  private val FoldedMarker = "_folded"

  /** Max batch id a compacted version has folded in, from its
    * [[FoldedMarker]]; None for a pre-watermark (legacy) version. */
  private def foldedWatermark(s: SparkSession, versionPath: Path): Option[Long] = {
    val p = new Path(versionPath, FoldedMarker)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.io.Sidecar.read(fs, p).flatMap(_.trim.toLongOption)
  }

  /** Hidden delta copy a rewrite-mode fold leaves beside the base so
    * [[syncCorpus]] never pays the mixed-base scan (a doc_id-range
    * rewrite scatters the night's batches into every file — no
    * file-grain stats can isolate them afterwards). Underscore-prefixed:
    * invisible to every base reader, never byte-copied forward by the
    * next append fold, so each version's copy describes only ITS
    * rewrite. */
  private[graft] val SyncDeltaDir = "_syncdelta"

  /** [[FoldShape.batchManifest]]'s sidecars, written inside the staged
    * version (r12 verdict #2):
    *
    *  - a `_filemap` keyed on `ingest_batch`, maintained at DELTA cost
    *    on append nights (the byte-copied base files keep their entries
    *    verbatim; the stats pass reads only the `appended` files the
    *    compaction step returns) and recomputed by one column-pruned
    *    pass after a full/rewrite — [[syncCorpus]] prunes its read from
    *    this one driver-side manifest instead of O(files) footer opens;
    *  - on a (non-legacy) rewrite night, a [[SyncDeltaDir]] copy of the
    *    folded delta with its covered batch range, because after the
    *    rewrite the manifest honestly reports every file a candidate.
    *    Legacy rewrites skip the copy: their distinct() may drop fresh
    *    rows, and a side copy would diverge from the base. */
  private def writeBatchSidecars(s: SparkSession, p: String, mode: String,
                                 appended: Seq[String],
                                 prevPath: Option[Path], legacyBase: Boolean,
                                 fresh: DataFrame, freshBytes: Long,
                                 watermark: Option[Long], maxFolded: Long,
                                 shape: FoldShape): Unit = {
    val vp = new Path(p)
    val pfs = vp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prior = prevPath.filter(pp => mode == "append" &&
      graft.io.ZoneMap.manifestFor(s, pp.toString, "ingest_batch").nonEmpty)
    prior match {
      case Some(pp) =>
        // O(Δ): the byte-copied base files keep their entries verbatim;
        // the stats pass runs over the night's new files only
        graft.io.ZoneMap.mergeManifest(s, pp.toString, p, "ingest_batch", appended)
      case None =>
        graft.io.ZoneMap.write(s, p, "ingest_batch")
    }
    if (mode == "rewrite" && !legacyBase) {
      val sd = new Path(vp, SyncDeltaDir)
      shape.write(fresh, sd.toString, DerivedStore.filesFor(freshBytes, 8), SaveMode.Overwrite)
      graft.io.Sidecar.write(pfs, new Path(sd, "_range"),
        s"${watermark.getOrElse(-1L)},$maxFolded")
    }
  }

  // ---------------------------------------------------------------------
  // Corpus publication: folded survivors → the warehouse corpus table
  // ---------------------------------------------------------------------

  private val SyncMarker = "_stream_synced"

  /** What a [[syncCorpus]] published: `rows` synced, the `upto` batch
    * id, and how the delta was read — "syncdelta" (a rewrite night's
    * exact copy), "manifest:k/n" (k of the base's n files were
    * candidates), or "full" (no sidecar — footer-pruned scan). */
  final case class Synced(rows: Long, upto: Long, scan: String)

  /** Publish the folded survivors into a warehouse corpus table,
    * append-only: rows with `ingest_batch` in (last synced, folded
    * watermark] land as NEW part files in `corpusDir`, so the standing
    * tiers' file-grain fingerprints classify the night as AppendOnly
    * and take their O(Δ) merge paths — the stream-era T0 feed of the
    * nightly cascade ([[graft.pipeline.TierRefresh.corpusSyncJob]]).
    *
    * Reads ONLY the compacted base (an immutable committed version):
    * live partitions can still be replay-overwritten, so they never
    * sync; the bootstrap's `-1` rows never sync either — they were
    * seeded FROM a corpus. The files move in through the journaled
    * [[graft.io.InPlaceSwap]], which also keeps a `_filemap` on the
    * corpus truthful and, on entry, finishes any swap a crashed attempt
    * left on the corpus — a sync's or a takedown's. Idempotent across attempts: part files are named by the
    * batch range they carry plus a per-attempt stamp
    * (`stream-sync-<from>-<upto>-<stamp>-partNNNN.parquet`), any range
    * files beyond the recorded watermark are crashed-attempt leftovers
    * the same swap removes, and the watermark marker
    * (underscore-prefixed, so tier fingerprints ignore it) advances
    * only after the swap — a crash replays the same deterministic range
    * from the same immutable version.
    *
    * Returns the [[Synced]] outcome; None when nothing new. */
  def syncCorpus(s: SparkSession, survivorsDir: String,
                 corpusDir: String): Option[Synced] = {
    val store = compactedStore(survivorsDir)
    val cp = new Path(corpusDir)
    val fs = cp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val synced = graft.io.InPlaceSwap.run(s, corpusDir, graft.io.InPlaceSwap.CorpusSync) {
      case Seq(staging, tight) =>
        stageSync(s, store, cp, staging, tight)
          .getOrElse(graft.io.InPlaceSwap.Plan(Option.empty[Synced]))
    }
    synced.foreach(sy => graft.io.Sidecar.write(fs, new Path(cp, SyncMarker), sy.upto.toString))
    synced
  }

  /** The night's delta staged for [[syncCorpus]]'s swap, with the
    * crashed-attempt leftovers it removes; None when nothing new. */
  private def stageSync(s: SparkSession, store: String, cp: Path, staging: Path,
                        tight: Path): Option[graft.io.InPlaceSwap.Plan[Option[Synced]]] = {
    val fs = cp.getFileSystem(s.sparkContext.hadoopConfiguration)
    for {
      v <- graft.io.AtomicPublish.currentVersion(s, store)
      upto <- foldedWatermark(s, new Path(s"$store/v=$v"))
      syncedUpto = graft.io.Sidecar.read(fs, new Path(cp, SyncMarker))
        .flatMap(_.trim.toLongOption).getOrElse(-1L)
      if upto > syncedUpto
    } yield {
      // delta-read pruning (r12 verdict #2), best source first: a
      // rewrite night's exact [[SyncDeltaDir]] copy when it covers the
      // needed range; else the version's ingest_batch `_filemap` (one
      // driver-side read prunes to the delta-holding files — append
      // nights' runs carry tight ranges, byte-copied base files keep
      // their old caps); else the footer-pruned full scan. All three
      // read the same rows — the filter below is the truth, the
      // pruning only shrinks the file set.
      val versionDir = s"$store/v=$v"
      val sd = new Path(s"$versionDir/$SyncDeltaDir")
      val sfs = sd.getFileSystem(s.sparkContext.hadoopConfiguration)
      val sdRange = graft.io.Sidecar.read(sfs, new Path(sd, "_range"))
        .map(_.trim.split(",")).collect {
          case Array(a, b) if a.toLongOption.nonEmpty && b.toLongOption.nonEmpty =>
            (a.toLong, b.toLong)
        }
      val (baseScan, scan) = sdRange match {
        case Some((from, sdUpto)) if syncedUpto >= from && upto <= sdUpto =>
          (s.read.parquet(sd.toString), "syncdelta")
        case _ =>
          graft.io.ZoneMap.manifestFor(s, versionDir, "ingest_batch") match {
            case Some(m) =>
              val cand = m.candidateFilesForRange(syncedUpto + 1, upto)
              (if (cand.isEmpty) s.read.parquet(versionDir).filter(lit(false))
               else s.read.option("basePath", versionDir)
                 .parquet(cand.map(f => s"$versionDir/$f"): _*),
                s"manifest:${cand.size}/${m.entries.size}")
            case None =>
              (s.read.parquet(versionDir), "full")
          }
      }
      val obs = new Observation()
      val delta = baseScan
        .filter(col("ingest_batch") > syncedUpto && col("ingest_batch") <= upto)
        .drop("ingest_batch")
        .observe(obs, count(lit(1)).as("rows"))
      delta.write.parquet(staging.toString)
      // right-size the night's addition: the filter scatters delta rows
      // across every base input partition, so a tiny night would land
      // ~|base files| near-empty part files in the corpus table FOREVER
      // (the table must stay append-only for the tier merge economy, so
      // no later compaction can fix it without forcing full rebuilds).
      // One delta-sized rewrite collapses it to bytes/256MB files; the
      // moves then come from whichever dir holds the final files.
      val (stagedFiles, stagedBytes) = DerivedStore.dirStats(s, staging)
      val targetFiles = DerivedStore.filesFor(stagedBytes, 1)
      val finalDir =
        if (stagedFiles <= targetFiles) staging
        else {
          graft.io.SortedLayout.writeRangeSorted(s.read.parquet(staging.toString),
            tight.toString, targetFiles, col("doc_id"))
          tight
        }
      // crashed-attempt leftovers: any sync file whose range starts
      // past the committed watermark was moved in by an attempt that
      // died before advancing the marker — removed by the same swap,
      // so a retry (possibly over a LATER fold's wider range) never
      // duplicates its rows. The per-attempt stamp keeps a retry's
      // destinations from colliding with a same-range leftover (every
      // move runs before any removal).
      val leftovers = fs.listStatus(cp).map(_.getPath).filter { p =>
        p.getName.startsWith("stream-sync-") &&
          p.getName.stripPrefix("stream-sync-").takeWhile(_ != '-')
            .toLongOption.exists(_ > syncedUpto)
      }.toSeq
      val stamp = System.currentTimeMillis()
      val moves = graft.core.Tables.filesAt(s, finalDir).getOrElse(Nil)
        .zipWithIndex.map { case (f, i) =>
          new Path(f.path) ->
            f"stream-sync-${syncedUpto + 1}%d-$upto%d-$stamp%d-part$i%04d.parquet"
        }
      // the corpus table mutates in place, so a `_filemap` published on
      // it must not survive STALE — one missing the new files would hide
      // them from every manifest-pruned read (the takedown would report
      // rowsDeleted=0 as success); the swap keeps it truthful
      graft.io.InPlaceSwap.Plan(Some(Synced(obs.get("rows").asInstanceOf[Long], upto, scan)),
        moves, leftovers)
    }
  }

  /** `intraBatchExact`: also drop WITHIN-batch exact duplicates (d1's
    * content hash, batch-local, no extra state) keeping the lowest
    * doc_id — deterministic, so a crash-replay recomputes the same
    * survivors. Off by default: the gate's core contract dedups
    * against the index as of batch start (d15), and near-dup families
    * WITHIN a batch remain the compaction's job either way
    * ([[foldSurvivors]]'s `nearDupAtFold` pass). */
  def start(s: SparkSession, srcDir: String, schema: StructType,
            indexDir: String, survivorsDir: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow(),
            intraBatchExact: Boolean = false): StreamingQuery = {
    // restart-safety guard: batch ids are CHECKPOINT-scoped, and both
    // sinks are batch-id-keyed dynamic partition overwrites. Starting
    // against retained survivors/index partitions with a fresh (or
    // truncated) checkpoint restarts ids at 0 and silently OVERWRITES
    // earlier batches' partitions — data loss, while their docs
    // re-enter dedup against themselves. Refuse loudly: the operator
    // keeps the checkpoint with its dirs, or clears all three together.
    Seq(indexDir, survivorsDir).foreach { d =>
      bindCheckpoint(s, d, checkpoint, "start")
      recordSources(s, d,
        Seq(new Path(srcDir).getName.stripSuffix(".parquet")))
    }
    val next = nextBatchId(s, checkpoint)
    Seq("index" -> indexDir, "survivors" -> survivorsDir).foreach {
      case (label, d) =>
        val stale = livePartitionIds(s, d).filter(_ >= next)
        require(stale.isEmpty,
          s"$label dir $d holds ingest_batch partitions ${stale.sorted.mkString(",")} " +
            s">= the checkpoint's next batch id $next: a fresh/rewound checkpoint " +
            "over retained sink dirs would overwrite committed batches. Keep the " +
            "checkpoint that wrote them, or clear checkpoint+index+survivors together.")
    }
    val query = s.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, id: Long) =>
        if (!batch0.isEmpty) {
          val batch = if (intraBatchExact) dedupWithinBatch(batch0) else batch0
          // ONE shingle+md5+minhash pass per batch: the cached band
          // frame feeds the dedup probe AND the survivors' index
          // append (r10 review — recomputing it per write doubled the
          // gate's dominant map cost). Caches are scoped to THIS batch
          // and released in finally — a global registry drain here
          // would unpersist a concurrent query's registered caches
          // mid-flight (r10 advice).
          val bands = BandIndexStore.bandKeys(batch).persist()
          var kept: DataFrame = null
          try {
            // the batch's own band buckets prune the compacted base to
            // the partitions its hashes can reach (≤ Buckets values —
            // a bounded driver collect at any batch size)
            val buckets = bands.select(bucketOf(col("band_hash")).as("b"))
              .distinct().collect().map(_.getInt(0)).toSeq
            // probe the index WITHOUT this batch's own partition: on a
            // crash-replay the half-written bands from the failed
            // attempt must not make the batch match itself (folded
            // rows carry -1, never a live batch id)
            val probe = probeBase(s, indexDir, Some(buckets))
              .filter(col("ingest_batch") =!= id)
            val report = BandIndexStore.dedupBatchWithBands(probe, batch, bands)
            kept = batch
              .join(report.filter(!col("is_dup")).select("doc_id"),
                Seq("doc_id"), "left_semi")
              .withColumn("ingest_batch", lit(id))
              .persist() // feeds the sink AND the index append
            // an ALL-DUPLICATE batch (a re-crawl night) keeps nothing:
            // skip both writes rather than landing an empty dynamic
            // overwrite — when a fold has deleted every live partition,
            // the refresh's read-back of a survivors dir holding only
            // sidecars would fail analysis and kill the stream. Replay
            // is deterministic, so skipping stays exactly-once; the
            // fold's watermark covers skipped ids by taking the max.
            if (!kept.isEmpty) {
              IdempotentWriter.partitionRefresh(kept, survivorsDir, "ingest_batch"): Unit
              IdempotentWriter.partitionRefresh(
                bands.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
                  .withColumn("ingest_batch", lit(id)),
                indexDir, "ingest_batch"): Unit
            }
          } finally {
            bands.unpersist()
            if (kept != null) kept.unpersist(): Unit
          }
        }
      }
      .start()
    // Pin the checkpoint IDENTITY now, not at the next bind contact: a
    // first start() against a not-yet-materialized checkpoint wrote the
    // marker without an id, and a lazily-pinned marker would accept
    // whatever identity exists at the NEXT start — including a
    // checkpoint deleted and recreated in between, the exact hazard the
    // pin guards. Spark writes `checkpoint/metadata` (the query id)
    // synchronously while constructing the StreamExecution inside
    // .start(), so by this line the identity exists and the re-bind
    // pins it within the same call that created the checkpoint.
    Seq(indexDir, survivorsDir).foreach(d => bindCheckpoint(s, d, checkpoint, "start"))
    query
  }

  /** d1's exact content key (`dedup/Dedup.scala`'s normalization),
    * batch-local: one survivor per normalized text, lowest doc_id
    * wins — deterministic under replay. */
  private[streaming] def dedupWithinBatch(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(regexp_replace(lower(trim(col("text"))), " +", " ")))
      .orderBy(col("doc_id"))
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The id Structured Streaming will assign the next planned batch on
    * this checkpoint: max offsets-log entry + 1 (a written offset means
    * that id is taken — committed or pending-replay), 0 when fresh. */
  private def nextBatchId(s: SparkSession, checkpoint: String): Long =
    maxLogEntry(s, checkpoint, "offsets") + 1

  /** Stream-owned `ingest_batch=<id>` partition ids (>= 0) present in
    * a sink dir — the bootstrap (-1) is checkpoint-independent. */
  private def livePartitionIds(s: SparkSession, dir: String): Seq[Long] =
    livePartitions(s, dir).map(_._1).filter(_ >= 0)
}
