package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

import graft.core.Tables

/** The build-once / serve-many tier machinery shared by every
  * materialized derived table ([[GraphStore]]'s edge tiers,
  * `dedup.ClusterStore`'s component labels, `dedup.BandIndexStore`'s
  * standing band index): fingerprint-keyed freshness + atomic
  * versioned publication, entirely on the Hadoop `FileSystem` API so
  * the tier deploys wherever the data lives (HDFS, object stores via
  * their Hadoop connectors, local FS in tests — the same portability
  * contract as [[AtomicPublish]]/[[Vacuum]]/[[Backup]]).
  *
  * Two entry points: [[served]] for frame tiers (returns the served
  * version as a DataFrame) and [[servedDir]] for directory-shaped
  * tiers (returns the version's path). Both run one serve loop:
  *
  *  - FRESHNESS: a store records the per-file (path, size, mtime)
  *    state of every source table it derives from and rebuilds when
  *    any drifts — the incremental-refresh contract (a new corpus
  *    snapshot invalidates exactly the tiers derived from the tables
  *    that changed, nothing else rebuilds). The fingerprint travels
  *    INSIDE each committed version (`v=n/_fingerprint`, written into
  *    the staging dir before the commit rename), so data and the
  *    fingerprint that describes it are one atomic unit — there is no
  *    pointer file that can advertise a fingerprint for data that
  *    failed to land.
  *  - REFRESH: because the fingerprint is file-grain, the store can
  *    CLASSIFY drift instead of only detecting it. When every file the
  *    current version was built from is still present and
  *    byte-identical and the only change is NEW files (the warehouse's
  *    daily reality: immutable part files appended to a table, a new
  *    day landing in a partitioned layout), the drift is
  *    [[SourceDrift.AppendOnly]] and the tier's [[Refresh]] (or
  *    [[DirMerge]]) may build the next version from the SERVED tier +
  *    just the delta files — the history-sized scan/join/distinct of a
  *    full rebuild never re-runs. Any other drift (shrink, in-place
  *    rewrite, unknown or legacy fingerprint) takes the full build.
  *    A merged version publishes through byte-for-byte the same
  *    protocol as a full one, so readers need not care how a version
  *    was produced; an operator reads it from the version's own
  *    [[RefreshRecord]] (`_refresh`).
  *  - PUBLICATION: [[AtomicPublish]]'s versioned OCC protocol, not a
  *    private re-implementation. Each build stages under a dot-prefixed
  *    tx dir ([[AtomicPublish.stageVersionWith]]) — invisible to
  *    readers — then races for the next `v=n` via the one O(1) commit
  *    rename ([[AtomicPublish.commitStagedOcc]]). `_SUCCESS` is the
  *    commit record; readers resolve the highest COMMITTED version
  *    ([[AtomicPublish.currentVersion]]), so a concurrent reader always
  *    sees a complete version and a crashed build orphans bytes without
  *    ever corrupting the store. Two processes publishing concurrently
  *    both commit (serialized by version number); each version carries
  *    the fingerprint of the sources ITS build read, so the highest
  *    committed version is always self-consistent — a lost race can
  *    never advertise one build's fingerprint over another's data.
  *  - GC: [[Vacuum.sweep]] with `keepVersions = 2` — the superseded
  *    version survives exactly one refresh cycle (grace for a reader
  *    that resolved it just before the publish), and in-flight
  *    uncommitted staging is protected by Vacuum's mtime grace.
  *  - LAYOUT: range-sorted on the tier's serve key
  *    ([[SortedLayout.writeRangeSorted]]) so per-file min/max stats
  *    prune keyed lookups; `numFiles` is the parallelism knob.
  *
  * A committed frame-tier version holds its data files plus these
  * `_`-prefixed entries, all written into the staging dir before the
  * commit rename:
  *  - `_SUCCESS`, `_fingerprint`, `_refresh`: the commit record, the
  *    source fingerprint and the [[RefreshRecord]];
  *  - `_stats`: exact rows, bytes and column profile
  *    ([[RowStatsFile]]) — the one record of the version's key facts;
  *  - `_filemap`: the per-file key ranges ([[ZoneMap]]);
  *  - `_keybloom`: a bloom over the `summaryKey`, present while its
  *    distinct count fits [[BloomMaxKeys]]; its capacity rides on the
  *    key's `_stats` line;
  *  - `_buckets`: the bucket layout ([[Refresh.Bucketed]] tiers only).
  * A directory tier's version holds the first three plus what its
  * writer lays out.
  */
object DerivedStore {

  /** How the sources moved between a committed version's recorded
    * file-grain fingerprint and their current on-disk state. */
  sealed trait SourceDrift
  object SourceDrift {
    case object Unchanged extends SourceDrift
    /** Every recorded file is still present with identical size+mtime;
      * only new files appeared. `newFiles`: table → absolute paths. */
    final case class AppendOnly(newFiles: Map[String, Seq[String]]) extends SourceDrift
    /** Shrink, in-place rewrite, a table that was absent at build
      * time, or a legacy/unparseable record — full rebuild territory. */
    case object Rewritten extends SourceDrift
  }

  /** A frame tier's append-only callback: `(session, sfDir, servedTier,
    * deltaFilesPerTable) => next version's rows` ([[Refresh.Merge]]). */
  type Merge = (SparkSession, String, DataFrame, Map[String, Seq[String]]) => DataFrame

  /** [[Merge]] that may reject the batch: None (re-ingested keys, any
    * precondition trip) routes the refresh to the full build. What the
    * returned rows mean is the [[Refresh]] case's contract
    * ([[Refresh.Lsm]]: rows to add; [[Refresh.Bucketed]]: upserts). */
  type DeltaMerge =
    (SparkSession, String, DataFrame, Map[String, Seq[String]]) => Option[DataFrame]

  /** How a frame tier refreshes on [[SourceDrift.AppendOnly]] drift.
    * Every case takes the full `build` on any other drift, and a
    * [[DeltaMerge]] returning None falls back to it too. */
  sealed trait Refresh
  object Refresh {

    /** Full build on every drift. */
    case object Rebuild extends Refresh

    /** The next version is `merge(s, dir, servedTier, deltaFiles)`
      * instead of a full `build` — O(delta + |tier|) instead of
      * O(history), published through the full range-sorted layout. The
      * merge MUST produce exactly what `build` over the grown sources
      * would (the spec-pinned contract). */
    final case class Merge(merge: DerivedStore.Merge) extends Refresh

    /** LSM publication for PURE-APPEND tiers: `delta` returns ONLY the
      * rows the next version adds beside the served tier's
      * (`next == prev ∪ delta`, no prev row changes — per-key map tiers
      * qualify; label/cluster tiers do not; [[perKeyDelta]] is the
      * shared producer). The next version is a BYTE-COPY of the served
      * one plus the delta written as sorted runs — history never moves
      * through a shuffle and never rewrites, so an append night costs
      * O(Δ) IO instead of the O(|tier|) full-layout rewrite [[Merge]]
      * pays. Appended runs overlap the base's key ranges, so per-file
      * pruning degrades gradually until the file budget (4× the
      * byte-ideal count) routes one publish through a MAJOR rewrite that
      * restores the tight layout — the minor/major split the stream
      * gate's folds share ([[stageLsmStep]]). Sidecars stay truthful at delta
      * cost: `_filemap` = prev entries + the new runs' stats; `_stats`
      * adds rows, widens min/max and adds the summary key's NDV (its
      * keys are disjoint by contract); `_keybloom` folds the delta's
      * keys into the served bloom while the capacity recorded on the
      * key's `_stats` line holds, rebuilding at 2× headroom when
      * exhausted (amortized to doublings). A delta whose schema
      * differs from the tier's takes the full build. `LsmTierSpec`
      * pins merge == rebuild, the guard path, and the budget trigger. */
    final case class Lsm(delta: DeltaMerge) extends Refresh

    /** For tiers whose merge REWRITES rows (label/cluster tiers — the
      * one family the LSM append-only runs cannot represent): `upserts`
      * returns the COMPLETE replacement rows for every key whose row
      * the refresh changes or adds (`next == (prev − upsert keys) ∪
      * upserts`; deletions are not expressible). Every version is
      * hash-bucketed on the sortKey into `numBuckets`
      * (`b<k>-part-*.parquet`), and an append night rewrites ONLY the
      * buckets the upserts touch, byte-copying the rest — IO
      * O(Δ · bucket-fanout) instead of the full-tier range shuffle +
      * rewrite [[Merge]] pays. A bucket-layout sidecar (`_buckets`)
      * guards the precondition — a changed bucket count or function, or
      * a data file that does not declare its bucket, routes to the full
      * rebuild, never mis-routes a key. */
    final case class Bucketed(upserts: DeltaMerge, numBuckets: Int) extends Refresh
  }

  /** What the publish of a committed version did: `mode` is "full" or
    * "merge"; `layout` is how its bytes were written — "range" (one
    * range-sorted write), "lsm-append", "lsm-rewrite", "bucketed",
    * "bucketed-patch", "dir" (a directory tier's own writer) or
    * "dir-copy" (a byte-copy of the served version plus the delta).
    * Committed inside the version as `_refresh` (`mode=merge
    * layout=lsm-append`), beside `_fingerprint`, so the commit rename
    * publishes it with the data: an attempt that crashed or was
    * discarded leaves no record. */
  final case class RefreshRecord(mode: String, layout: String)

  /** Test hook: invoked after the source fingerprint is taken and
    * before the build/merge reads the tables — specs land a concurrent
    * append inside exactly that window to drive the re-list path. */
  @volatile private[graft] var onFingerprinted: () => Unit = () => ()

  /** How many stage attempts a publish makes while the sources keep
    * moving under it before giving up and committing with the
    * [[ChurnSentinel]] fingerprint. */
  private val MaxStageAttempts = 3

  /** Fingerprint committed when the sources drifted on every stage
    * attempt: it can never match a real listing (real entries are
    * `table/relpath:size:mtime` lines), so the next serve rebuilds, and
    * [[classify]] reads it as [[SourceDrift.Rewritten]] — never
    * AppendOnly — so a merge can never re-digest files a churned build
    * may already have read. The source-table NAMES ride along on the
    * following lines (r10 verdict #2: they are statically known at
    * every call site), so [[sourcesOfVersion]] — and therefore
    * `tools/Lineage` — keeps tier provenance through a churned publish;
    * freshness semantics are untouched (the sentinel text still never
    * equals a real listing). */
  private val ChurnSentinel = "!churn"

  private[graft] def root: String =
    sys.props.get("graft.graphstore.dir")
      .orElse(sys.env.get("GRAFT_GRAPHSTORE_DIR"))
      .getOrElse("spark-warehouse/graphstore")

  /** In-JVM build serialization (the common single-process case:
    * concurrent consumers of a stale tier build it once). Cross-process
    * publication needs no lock — the OCC commit rename arbitrates. */
  private val lock = new Object

  private val FingerprintFile = "_fingerprint"
  private val RefreshFile = "_refresh"

  /** The [[RefreshRecord]] a version dir committed; None for a version
    * published before the record existed, or one not published by the
    * serve loop. */
  private[graft] def refreshOf(s: SparkSession, versionDir: String): Option[RefreshRecord] = {
    val p = new Path(versionDir, RefreshFile)
    Sidecar.read(hadoopFs(s, p), p).flatMap { txt =>
      val kv = txt.trim.split(" ").iterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      for (m <- kv.get("mode"); l <- kv.get("layout")) yield RefreshRecord(m, l)
    }
  }

  private def hadoopFs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Merge-precondition probe for append-only tiers whose contract is
    * "delta files carry only NEW keys": true when any `key` in `delta`
    * already exists in the served tier — the re-ingestion case that
    * would silently duplicate tier rows if the merge ran anyway
    * (AnnIndex.append's loud require, expressed as the cheap check a
    * frame merge can fall back from).
    *
    * Cost discipline (r10 verdict #2): the exact check is one pass
    * over the tier's pruned key column — IO-only, but HISTORY-sized,
    * and for the token tier that is a nightly history read to answer a
    * delta-sized question. So the probe first asks the served
    * version's `_stats` record (memoized, no Spark job) and
    * `_keybloom`, in ONE pass over the delta's key column: does any
    * delta key fall inside the tier's recorded [min, max] (integral
    * keys) AND might-contain in the bloom (1% fpp)? A disjoint range —
    * the warehouse's monotonic-id reality — and a straddling but
    * key-disjoint delta both answer NO at O(Δ). Only a yes (or a
    * version with neither fact: no `_stats`, a non-integral key
    * without a bloom) pays the exact semi-join; the layers can only
    * FALL THROUGH, never flip the answer. The bloom is trusted only
    * when the key's `_stats` line records its capacity. Both facts
    * describe the version's own key column, so they are used only
    * when the delta's key is of the same type family as the tier's: a
    * long-built bloom probed with strings answers every key
    * might-not-contain, silently flipping overlap to disjoint (r11
    * advice). The sidecars are located from `prev`'s OWN input files,
    * so a concurrent publish of a newer version can never pair v+1's
    * facts with v's rows. */
  private[graft] def deltaKeysOverlap(prev: DataFrame, delta: DataFrame,
                                      key: String): Boolean = {
    val s = prev.sparkSession
    val family = normKeyType(delta.schema(key).dataType)
    val facts = versionDirOf(prev)
      .filter(_ => normKeyType(prev.schema(key).dataType) == family)
      .flatMap(v => rowStatsOfVersion(s, v.toString).map(v -> _))
    val inRange = for {
      (_, st) <- facts if family == "long"
      cs <- st.cols.get(key)
      lo <- cs.min.flatMap(_.toLongOption)
      hi <- cs.max.flatMap(_.toLongOption)
    } yield col(key).cast("long").between(lo, hi)
    val inBloom = for {
      (v, st) <- facts
      (`key`, _) <- st.bloom
      bf <- bloomAt(s, v)
      pred <- mightContainCol(bf, delta, key)
    } yield pred
    val maybe = (inRange ++ inBloom).reduceOption(_ && _)
      .forall(pred => !delta.filter(pred).isEmpty)
    maybe && !prev.select(key)
      .join(org.apache.spark.sql.functions.broadcast(delta.select(key).distinct()),
        Seq(key), "left_semi")
      .isEmpty
  }

  /** The per-key append delta every per-doc map tier shares: read
    * `table`'s delta files ([[Tables.loadFiles]]); no delta files →
    * no rows; a delta `key` already in the served tier (a re-ingested
    * doc, which would duplicate its rows against what a rebuild of a
    * clean append produces) → None, so the full build takes over;
    * otherwise `rows(s, dir, servedTier, deltaRows)`. */
  private[graft] def perKeyDelta(table: String, key: String)(
      rows: (SparkSession, String, DataFrame, DataFrame) => DataFrame): DeltaMerge =
    (s, dir, prev, deltas) => deltas.getOrElse(table, Seq.empty) match {
      case Seq() => Some(prev.limit(0))
      case paths =>
        val delta = Tables.loadFiles(s, dir, table, paths)
        if (deltaKeysOverlap(prev, delta, key)) None
        else Some(rows(s, dir, prev, delta))
    }

  private val KeyBloomFile = "_keybloom"

  /** Bloom ceiling: 10M distinct keys @ 1% fpp ≈ 12 MB — a bounded
    * per-probe driver read. Versions with more keys keep only min/max
    * (the monotonic-append fast path); their straddling appends pay
    * the exact probe, honestly. */
  private val BloomMaxKeys = 10L * 1000 * 1000

  /** The `v=N` dir `prev` was read from, resolved from its input files
    * (None for a non-tier frame — exact-probe territory). */
  private def versionDirOf(prev: DataFrame): Option[Path] =
    prev.inputFiles.headOption.flatMap { f =>
      var p = new Path(f).getParent
      while (p != null && !p.getName.matches("v=\\d+")) p = p.getParent
      Option(p)
    }

  /** The bloom/range-comparable FAMILY of a summary key's type: the
    * integral family collapses to "long" (the bloom puts cast to long,
    * so an int delta probing a long-built bloom hashes identically);
    * strings stand alone; anything else keeps its exact catalog name
    * so only identically-typed probes trust the sidecars. */
  private def normKeyType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => "long"
      case StringType => "string"
      case other => other.catalogString
    }
  }

  private def bloomAt(s: SparkSession,
                      versionDir: Path): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val bp = new Path(versionDir, KeyBloomFile)
    val fs = hadoopFs(s, bp)
    if (!fs.exists(bp)) None
    else {
      val in = fs.open(bp)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  /** A might-contain predicate over `delta(key)`, matching the typed
    * put the build used; None for key types the bloom doesn't cover. */
  private def mightContainCol(bf: org.apache.spark.util.sketch.BloomFilter,
                              delta: DataFrame,
                              key: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.udf
    import org.apache.spark.sql.types._
    delta.schema(key).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val f = udf((x: java.lang.Long) => x != null && bf.mightContainLong(x))
        Some(f(col(key).cast("long")))
      case StringType =>
        val f = udf((x: String) => x != null && bf.mightContainString(x))
        Some(f(col(key)))
      case _ => None
    }
  }

  /** The file-grain fingerprint: sorted `table/relpath:size:mtime`
    * lines over [[Tables.sourceFiles]]. An absent table records a sentinel
    * line so its later materialization reads as a rewrite, never an
    * append. */
  private def fileEntries(s: SparkSession, dir: String,
                          sources: Seq[String]): Seq[String] =
    sources.flatMap { t =>
      Tables.sourceFiles(s, dir, t).fold(Seq(s"$t absent:0:0"))(_.map(f =>
        s"$t/${f.rel}:${f.len}:${f.mtime}"))
    }.sorted

  /** Classify how the sources moved since `prev` (a committed
    * version's recorded fingerprint) against `cur` (their state now). */
  private def classify(prev: String, cur: Seq[String], dir: String): SourceDrift = {
    // a churn-committed fingerprint (sentinel + table names) is never
    // merge-eligible, whatever its lines: the churned build may have
    // read files no listing describes
    if (prev.startsWith(ChurnSentinel)) return SourceDrift.Rewritten
    val prevSet = prev.split("\n").iterator.filter(_.nonEmpty).toSet
    val curSet = cur.toSet
    if (prevSet == curSet) SourceDrift.Unchanged
    else if (prevSet.nonEmpty && prevSet.subsetOf(curSet) &&
             !prevSet.exists(_.contains(" absent"))) {
      val fresh = (curSet -- prevSet).toSeq.sorted.flatMap { e =>
        // entry = table/relpath:size:mtime — table is the first '/'
        // segment, the trailing :size:mtime pair is stripped
        val slash = e.indexOf('/')
        val relAndStats = e.substring(slash + 1)
        val cut = relAndStats.lastIndexOf(':', relAndStats.lastIndexOf(':') - 1)
        if (slash < 0 || cut < 0) None
        else Some(e.substring(0, slash) -> relAndStats.substring(0, cut))
      }
      SourceDrift.AppendOnly(fresh.groupBy(_._1).map { case (t, es) =>
        t -> es.map { case (_, rel) => s"$dir/$t.parquet/$rel" }
      })
    } else SourceDrift.Rewritten
  }

  /** Where a tier lives on disk — the introspection surface specs and
    * tooling (ScanCount's tier mapping, Vacuum runs) key off. */
  def storePath(dir: String, name: String): String =
    s"$root/${dir.replace('/', '_').stripPrefix("_")}/$name"

  /** The SOURCE TABLES a committed version was derived from, parsed
    * from its recorded fingerprint (each line is `table/relpath:…` or
    * `table absent:…`). A churn-committed version carries its table
    * names on the lines after the sentinel, so provenance survives
    * exactly the publish where sources churned; None only when the
    * dir carries no fingerprint or a bare legacy sentinel. This is the
    * provenance hop `tools/Lineage` takes through a tier scan: a query
    * reading `purchase/v=3` traces to lineitem+orders, not to the
    * store path. */
  def sourcesOfVersion(s: SparkSession, versionPath: String): Option[Seq[String]] = {
    val p = new Path(versionPath, FingerprintFile)
    Sidecar.read(hadoopFs(s, p), p).flatMap { txt =>
      if (txt.startsWith(ChurnSentinel))
        Some(txt.split("\n").iterator.drop(1).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty) // bare legacy sentinel: provenance unknown
      else Some(txt.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val slash = line.indexOf('/')
        val space = line.indexOf(' ')
        val cut = Seq(slash, space).filter(_ >= 0).minOption.getOrElse(line.length)
        line.substring(0, cut)
      }.toSeq.distinct)
    }
  }

  /** A PROVENANCE-ONLY fingerprint: the [[ChurnSentinel]] line, then
    * the source-table names. The text can never equal a real listing,
    * so a version committed under it is never source-fresh, [[classify]]
    * reads it as Rewritten (never merge-eligible), and
    * [[sourcesOfVersion]] — and therefore `tools/Lineage` — still
    * resolves the version to its source tables. Committed by a publish
    * whose sources never quiesced, and by version stores maintained
    * outside the serve loop (the stream-ingest gate's compacted folds,
    * whose sources are stream batches no file listing describes). */
  private[graft] def provenanceOnly(sources: Seq[String]): String =
    (ChurnSentinel +: sources.distinct.sorted).mkString("\n")

  /** Fingerprint a committed version was built from, if recorded. */
  private def versionFingerprint(s: SparkSession, store: String,
                                 v: Long): Option[String] = {
    val p = new Path(s"$store/v=$v", FingerprintFile)
    Sidecar.read(hadoopFs(s, p), p)
  }

  /** The served version's dir and the delta files since it — what an
    * append-only refresh builds the next version from. */
  private final case class Append(prev: Path, delta: Map[String, Seq[String]])

  /** The one serve loop behind [[served]] and [[servedDir]]: resolve
    * the highest committed `v=n` whose recorded fingerprint matches the
    * sources' current state, publishing a new version first if the
    * store is absent or stale. `stage(fp, append)` stages the next
    * version from sources fingerprinted as `fp` — `append` is the
    * served version and its delta when the drift is
    * [[SourceDrift.AppendOnly]] — and returns the staging dir and the
    * [[RefreshRecord]] committed with it. Builds are
    * in-JVM-serialized; cross-process racers serialize on the OCC
    * commit. Returns the served version's dir. */
  private def serve(s: SparkSession, dir: String, name: String,
                    sources: Seq[String])
                   (stage: (String, Option[Append]) => (Path, RefreshRecord)): String = {
    val store = storePath(dir, name)
    def fresh(fp: String): Option[Long] = AtomicPublish.currentVersion(s, store)
      .filter(v => versionFingerprint(s, store, v).contains(fp))
    val fp0 = fileEntries(s, dir, sources).mkString("\n")
    val version = fresh(fp0).getOrElse {
      lock.synchronized {
        fresh(fp0).getOrElse { // recheck under the lock
          dropPinnedPlans(s, dir, sources, store)
          publishRechecked(s, dir, sources, store, fp0) { fp =>
            val append = for {
              v <- AtomicPublish.currentVersion(s, store)
              recorded <- versionFingerprint(s, store, v)
              delta <- classify(recorded, fp.split("\n").toSeq, dir) match {
                case SourceDrift.AppendOnly(nf) => Some(nf)
                case _ => None
              }
            } yield Append(new Path(s"$store/v=$v"), delta)
            stage(fp, append)
          }
        }
      }
    }
    s"$store/v=$version"
  }

  /** Serve frame tier `name` for `dir`, derived from the `sources`
    * tables: `build` computes the tier from scratch, `refresh` says how
    * an append-only drift is folded in instead. `summaryKey`: the
    * tier's row key — when set, every published version carries a
    * `_keybloom` under the key budget, its capacity recorded on the
    * key's `_stats` line, which [[deltaKeysOverlap]] consults with the
    * key's min/max to answer key-disjoint appends at O(Δ) instead of a
    * history-sized key-column scan. */
  def served(s: SparkSession, dir: String, name: String,
             sources: Seq[String],
             build: (SparkSession, String) => DataFrame,
             refresh: Refresh,
             numFiles: Int, sortKey: String,
             summaryKey: Option[String] = None): DataFrame = {
    val store = storePath(dir, name)
    val versionDir = serve(s, dir, name, sources) { (fp, append) =>
      // the byte-copying paths: history moves as bytes, only the delta
      // (LSM) or the touched buckets (bucketed) are written. Schema
      // evolution cannot ride the byte-copy: mixed-schema files would
      // make the served read nondeterministically hide or null the new
      // column — it routes to the full build, which lays the whole
      // tier out under one schema
      val patched = (refresh, append) match {
        case (Refresh.Lsm(dm), Some(a)) =>
          val prev = Tables.loadAt(s, a.prev.toString)
          dm(s, dir, prev, a.delta).filter(d => sameTierSchema(prev.schema, d.schema))
            .map(stageLsm(s, store, a.prev, _, a.delta, fp, numFiles, sortKey,
              summaryKey))
        // layout precondition: prev must be bucketed the same way, or a
        // copied file's name would lie about its keys — and every data
        // file must DECLARE its bucket: an in-place mutator's rewrite
        // (TargetedDelete lands `deleted-rewrite-*` names) holds rows
        // the name-keyed anti-join can't see, so a patch would
        // byte-copy the old rows AND write replacements, duplicating
        // keys with conflicting labels
        case (Refresh.Bucketed(um, b), Some(a))
            if bucketLayoutOf(s, a.prev).contains(b) &&
              dataFiles(s, a.prev).forall(f => bucketOfFileName(f.rel).isDefined) =>
          val prev = Tables.loadAt(s, a.prev.toString)
          um(s, dir, prev, a.delta).filter(u => sameTierSchema(prev.schema, u.schema))
            .map(u => stageBucketedPatch(s, store, a.prev, u, b, sortKey, summaryKey) ->
              RefreshRecord("merge", "bucketed-patch"))
        case _ => None
      }
      patched.getOrElse {
        val (rows, mode) = (refresh, append) match {
          case (Refresh.Merge(m), Some(a)) =>
            (m(s, dir, Tables.loadAt(s, a.prev.toString), a.delta), "merge")
          case _ => (build(s, dir), "full")
        }
        refresh match {
          case Refresh.Bucketed(_, b) =>
            stageBucketedFull(s, store, rows, b, fp, numFiles, sortKey, summaryKey) ->
              RefreshRecord(mode, "bucketed")
          case _ =>
            stageFullLayout(s, store, rows, fp, numFiles, sortKey, summaryKey) ->
              RefreshRecord(mode, "range")
        }
      }
    }
    // publish-time stats → optimizer (r12 verdict #4): register the
    // served version's exact rows/bytes and measured var-width column
    // widths so TierStatsRule prices scans of it from what the publish
    // counted, not raw file bytes or default type widths
    rowStatsOfVersion(s, versionDir).foreach { st =>
      val vp = new Path(versionDir)
      val fs = hadoopFs(s, vp)
      // signed with the _stats sidecar's len:mtime (r13 advice #2):
      // a store wiped and rebuilt at the same v=N path — or a takedown
      // that dropped the now-stale sidecar — invalidates the entry at
      // the next plan instead of pricing the old corpus
      val sigPath = fs.makeQualified(new Path(vp, RowStatsFile)).toString
      graft.plans.TierStatsCatalog.register(
        fs.makeQualified(vp).toString, st.rows, st.bytes, st.cols,
        sigPath = sigPath,
        sig = graft.plans.TierStatsCatalog.sigOf(
          s.sparkContext.hadoopConfiguration, sigPath))
    }
    // a committed version is read once per file listing (the Tables
    // memo), not schema-inferred per serve; an in-place rewrite or a
    // rebuild at the same v=N changes the listing and re-reads
    Tables.loadAt(s, versionDir)
  }

  /** The classic full-layout staging: one range-sorted write of the
    * whole row set plus fresh sidecars. */
  private def stageFullLayout(s: SparkSession, store: String, rows: DataFrame,
                              fp: String, numFiles: Int, sortKey: String,
                              summaryKey: Option[String]): Path =
    AtomicPublish.stageVersionWith(store) { p =>
      // numFiles is a floor, not the count: at warehouse scale
      // a fixed 8 would write multi-TB single-task files, so
      // the layout scales with the SOURCE bytes the
      // fingerprint already itemizes (tier size tracks source
      // size within a constant factor for every registered
      // tier; test-scale sources keep the configured floor)
      SortedLayout.writeRangeSorted(rows, p,
        scaledNumFiles(numFiles, fp), col(sortKey))
      // file-grain zone map on the layout key: the range-sorted
      // files' disjoint [min,max] land in one `_filemap`
      // manifest, so keyed lookups (TokenStore term fetches,
      // TargetedDelete discovery) prune files without opening
      // parquet footers (r11 verdict #4)
      ZoneMap.write(s, p, sortKey)
      writeRowStats(s, p, summaryKey)
    }

  /** Exact stats of a version, recorded at publish so the OPTIMIZER
    * can consume them (r12 verdict #4): rows from parquet's
    * metadata-only count over data just written (footer row counts, no
    * data pages), bytes from the same kind of listing every publish
    * already does, and — for var-width columns (string/binary/array) —
    * the measured column profile ([[TableStats.columnProfile]]:
    * avg/max widths of var-width columns, HLL NDV + null count of
    * atomic columns), because rowCount-based estimation prices unknown
    * columns at DEFAULT widths (a 2KB text at 20 bytes — the direction
    * that wrongly BROADCASTS a wide tier) and join-cardinality
    * estimation keys on distinctCount (r13 verdict #2). One
    * column-pruned agg pass over data the publish just wrote, the same
    * discipline as `_filemap`. [[rowStatsOfVersion]] reads it back;
    * [[served]] registers it in [[graft.plans.TierStatsCatalog]], and
    * [[deltaKeysOverlap]] reads the summary key's facts from it.
    *
    * Sidecar format: line 1 `rows,bytes`; one line per profiled column
    * `name\tavg\tmax\tndv\tnulls\tmin\tmax` with `-` for an unmeasured
    * field (min/max are numeric-only external strings, so the tab
    * framing is safe; v1 sidecars carried `name\tavg` only — the
    * parser accepts both). The summary key's line carries an 8th field
    * when the version has a `_keybloom`: the bloom's capacity (fields
    * are read by index, so a reader that predates it ignores it). */
  private[io] val RowStatsFile = "_stats"

  /** `bloom`: the summary key whose `_stats` line records the
    * `_keybloom` capacity, and that capacity. */
  private[graft] final case class TierRowStats(rows: Long, bytes: Long,
                                               cols: Map[String, graft.plans.ColStat],
                                               bloom: Option[(String, Long)] = None)

  /** Measured per-column profile, one agg pass; empty for
    * fixed-width-only schemas with no atomic columns. Shared with the
    * raw-table ANALYZE ([[TableStats]]). */
  private def columnProfile(df: DataFrame,
                            rows: Long): Map[String, graft.plans.ColStat] =
    TableStats.columnProfile(df, rows)

  private def writeRowStatsRecord(s: SparkSession, dir: String,
                                  st: TierRowStats): Unit = {
    def f(o: Option[Long]) = o.fold("-")(_.toString)
    def g(o: Option[String]) = o.getOrElse("-")
    Sidecar.write(hadoopFs(s, new Path(dir)), new Path(dir, RowStatsFile),
      (s"${st.rows},${st.bytes}" +:
        st.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
          s"$c\t${f(cs.avgLen)}\t${f(cs.maxLen)}\t${f(cs.ndv)}\t${f(cs.nulls)}" +
            s"\t${g(cs.min)}\t${g(cs.max)}" +
            st.bloom.collect { case (`c`, cap) => s"\t$cap" }.getOrElse("")
        }).mkString("\n"))
  }

  /** The version's `_stats` (and `_keybloom`, [[keyBloom]]) from one
    * read of the staged bytes. `grown`: the served version and the
    * rows this publish added to it, whose keys may fold into its
    * bloom. */
  private def writeRowStats(s: SparkSession, dir: String, summaryKey: Option[String],
                            grown: Option[(Path, DataFrame)] = None): Unit = {
    val df = s.read.parquet(dir)
    val rows = df.count() // parquet metadata-only
    val bytes = dirStats(s, new Path(dir))._2
    val cols = columnProfile(df, rows)
    writeRowStatsRecord(s, dir, TierRowStats(rows, bytes, cols,
      summaryKey.flatMap(keyBloom(s, dir, df, _, cols, grown))))
  }

  /** The stats a version's publish recorded; None for legacy versions.
    * Memoized against the sidecar FILE's (len, mtime) signature — a
    * committed version dir is immutable, but a long-lived JVM can see
    * a store wiped and rebuilt at the SAME v=N path (tests do; an
    * operator reset would), and a path-identity-only memo would then
    * feed the optimizer the old corpus's row counts (the
    * wrongly-broadcast direction). One getFileStatus per lookup, the
    * ZoneMap memo's discipline. */
  private val rowStatsMemo =
    new graft.core.LruMap[String, (String, Option[TierRowStats])](4096)

  private[graft] def rowStatsOfVersion(s: SparkSession,
                                       versionDir: String): Option[TierRowStats] = {
    val p = new Path(versionDir, RowStatsFile)
    val fs = hadoopFs(s, p)
    val sig = scala.util.Try {
      val st = fs.getFileStatus(p)
      s"${st.getLen}:${st.getModificationTime}"
    }.getOrElse("absent")
    rowStatsMemo.get(versionDir).collect {
      case (g, v) if g == sig => v
    }.getOrElse {
      val loaded = Sidecar.read(fs, p).flatMap { txt =>
        val lines = txt.trim.split("\n")
        lines.head.split(",") match {
          case Array(r, b) =>
            for (rr <- r.toLongOption; bb <- b.toLongOption) yield {
              val colLines = lines.tail.map(_.split("\t", -1))
                .filter(parts => parts.length >= 2 && parts(0).nonEmpty)
              val cols = colLines.flatMap { parts =>
                def opt(i: Int) =
                  if (i < parts.length) parts(i).toLongOption else None
                def str(i: Int) =
                  if (i < parts.length && parts(i) != "-" && parts(i).nonEmpty)
                    Some(parts(i))
                  else None
                val cs = graft.plans.ColStat(opt(1), opt(2), opt(3), opt(4),
                  str(5), str(6))
                if (cs == graft.plans.ColStat.empty) None
                else Some(parts(0) -> cs)
              }.toMap
              val bloom = colLines.iterator.flatMap(parts =>
                parts.lift(7).flatMap(_.toLongOption).map(parts(0) -> _)).nextOption()
              TierRowStats(rr, bb, cols, bloom)
            }
          case _ => None
        }
      }
      rowStatsMemo.put(versionDir, (sig, loaded)): Unit
      loaded
    }
  }

  /** The `_stats` of the one committed version `tier` scans — a frame
    * [[served]] returned — through [[rowStatsOfVersion]]'s memo: no
    * job, no listing. None for any other frame (an in-memory or
    * derived one) and for a version with no `_stats`. */
  private[graft] def statsOfServed(tier: DataFrame): Option[TierRowStats] =
    tier.queryExecution.analyzed match {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.location.rootPaths.length == 1 =>
        rowStatsOfVersion(tier.sparkSession, r.location.rootPaths.head.toString)
      case _ => None
    }

  // -------------------------------------------------------------------
  // Bucketed layout ([[Refresh.Bucketed]])
  // -------------------------------------------------------------------

  /** Layout sidecar: bucket count + function id. The merge precondition
    * reads it back — a prev version bucketed differently (or not at
    * all) cannot be byte-copied per bucket. Package-visible so the
    * in-place mutator ([[TargetedDelete]]) can drop it: its rewrites
    * land non-bucket file names, making the sidecar a lie. */
  private[io] val BucketsFile = "_buckets"

  /** The sidecars describing a version's rows, which a byte-copied
    * version whose rows did not change carries verbatim. */
  private val RowSidecars =
    Set(ZoneMap.ManifestDir, KeyBloomFile, RowStatsFile, BucketsFile)

  /** The stable bucket of a key: Murmur3 (Spark's `hash`) mod B. */
  private def bucketExpr(sortKey: String, b: Int) =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(col(sortKey)),
      org.apache.spark.sql.functions.lit(b))

  /** Bucket a data file's name declares, None for foreign names. */
  private def bucketOfFileName(n: String): Option[Int] =
    if (!n.startsWith("b")) None
    else {
      val d = n.drop(1).takeWhile(_.isDigit)
      if (d.nonEmpty && n.startsWith(s"b$d-")) Some(d.toInt) else None
    }

  private def bucketLayoutOf(s: SparkSession, versionDir: Path): Option[Int] = {
    val p = new Path(versionDir, BucketsFile)
    Sidecar.read(hadoopFs(s, p), p).flatMap(_.trim.split(",") match {
      case Array(b, "murmur3") => b.toIntOption
      case _ => None
    })
  }

  /** Write `rows` into `destDir` as `b<k>-part-*.parquet` files: tag
    * with the bucket, shuffle so each task holds contiguous (bucket,
    * key) runs, write through `partitionBy` (the tag is DIRECTORY-
    * encoded, so the data files keep the clean tier schema), then move
    * each bucket dir's files up under bucket-prefixed names. */
  private def writeBucketFiles(s: SparkSession, rows: DataFrame, destDir: Path,
                               numBuckets: Int, numTasks: Int,
                               sortKey: String): Unit = {
    val tmp = new Path(destDir, ".bucketwrite")
    val fs = hadoopFs(s, tmp)
    fs.delete(tmp, true): Unit
    rows.withColumn("__b", bucketExpr(sortKey, numBuckets))
      .repartitionByRange(math.max(1, numTasks), col("__b"), col(sortKey))
      .sortWithinPartitions(col("__b"), col(sortKey))
      .write.partitionBy("__b").parquet(tmp.toString)
    var moved = 0
    fs.listStatus(tmp).filter(_.isDirectory).foreach { d =>
      val b = d.getPath.getName.stripPrefix("__b=")
      fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith("part-")).foreach { f =>
          require(fs.rename(f.getPath,
            new Path(destDir, s"b$b-${f.getPath.getName}")),
            s"bucket move ${f.getPath} failed")
          moved += 1
        }
    }
    fs.delete(tmp, true): Unit
    // an EMPTY frame through a dynamic-partition write lands zero data
    // files (Spark creates them lazily per partition value), which
    // would leave the staged version schema-less — every later read
    // (sidecar passes, the serve itself) fails inference. Land one
    // schema-bearing empty file under a BUCKET name: the merge
    // precondition now requires every data file to declare its bucket,
    // and "all rows (none) hash to bucket 0" is vacuously true, so a
    // later patch can byte-copy or rewrite it either way.
    if (moved == 0) {
      rows.limit(0).coalesce(1).write.parquet(tmp.toString)
      fs.listStatus(tmp).filter(_.getPath.getName.startsWith("part-"))
        .foreach { f =>
          require(fs.rename(f.getPath,
            new Path(destDir, s"b0-${f.getPath.getName}")),
            s"empty-bucket move ${f.getPath} failed")
        }
      fs.delete(tmp, true): Unit
    }
  }

  /** Full build under the bucketed layout (first publish and every
    * non-append drift). */
  private def stageBucketedFull(s: SparkSession, store: String, rows: DataFrame,
                                numBuckets: Int, fp: String, numFiles: Int,
                                sortKey: String,
                                summaryKey: Option[String]): Path =
    AtomicPublish.stageVersionWith(store) { p =>
      // the full layout wants ≥1 task per bucket AND source-scaled task
      // sizing (a 2TB tier must not funnel through 32 tasks)
      writeBucketFiles(s, rows, new Path(p), numBuckets,
        math.max(numBuckets, scaledNumFiles(numFiles, fp)), sortKey)
      Sidecar.write(hadoopFs(s, new Path(p)), new Path(p, BucketsFile),
        s"$numBuckets,murmur3")
      ZoneMap.write(s, p, sortKey)
      writeRowStats(s, p, summaryKey)
    }

  /** The bucketed partial rewrite: byte-copy every bucket the upserts
    * do NOT touch, rewrite only the touched ones as
    * `(prev bucket rows − upsert keys) ∪ upserts`. Touched buckets are
    * a ≤ numBuckets driver-side collect; the rewrite reads only the
    * touched buckets' FILES (by name, no footer opens elsewhere). The
    * `_filemap` is maintained at delta cost (kept files keep their
    * entries); `_stats` recomputes — upserts REWRITE rows, so no
    * sidecar merge contract holds, and it is one column-pruned pass
    * over a narrow label tier. */
  private def stageBucketedPatch(s: SparkSession, store: String, prevDir: Path,
                                 upserts0: DataFrame, numBuckets: Int,
                                 sortKey: String,
                                 summaryKey: Option[String]): Path = {
    // the upsert frame is consumed by three actions (touched-bucket
    // collect, the rewrite, the bloom fold) —
    // cache it for the staging scope so the label contraction's joins
    // run once per night, not once per sidecar
    val upserts = upserts0.persist()
    try AtomicPublish.stageVersionWith(store) { p =>
      val touched = upserts.select(bucketExpr(sortKey, numBuckets).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      def isTouched(n: String) = bucketOfFileName(n).exists(touched.contains)
      copyTree(s, prevDir, new Path(p), keep = n => !Tables.hidden(n) && !isTouched(n))
      if (touched.isEmpty) {
        // nothing changed (fingerprint drift without label impact): the
        // base's sidecars describe the new version verbatim
        copyTree(s, prevDir, new Path(p), keep = RowSidecars)
      } else {
        // ONE listing per side feeds the rewrite input, its sizing,
        // and the manifest bookkeeping
        val prevTouched = dataFiles(s, prevDir).filter(f => isTouched(f.rel))
        val rows =
          if (prevTouched.isEmpty) upserts
          else s.read.parquet(prevTouched.map(_.path): _*)
            .join(upserts.select(sortKey), Seq(sortKey), "left_anti")
            .unionByName(upserts)
        // the rewrite is sized by the TOUCHED buckets' bytes (a patch of
        // 4 buckets in a 2TB tier is ~4 × tier/32, not the whole tier,
        // and a two-doc night is one task writing ~one file per bucket)
        writeBucketFiles(s, rows, new Path(p), numBuckets,
          filesFor(prevTouched.map(_.len).sum, touched.size), sortKey)
        Sidecar.write(hadoopFs(s, new Path(p)), new Path(p, BucketsFile),
          s"$numBuckets,murmur3")
        // _filemap at delta cost: kept (byte-copied) files keep their
        // entries, the rewritten buckets' files get a fresh stats pass
        val stagedData = dataFiles(s, new Path(p))
        ZoneMap.mergeManifest(s, prevDir.toString, p, sortKey,
          newFiles = stagedData.filter(f => isTouched(f.rel)).map(_.path),
          keptNames = Some(stagedData.map(_.rel).filterNot(isTouched).toSet))
        // _keybloom at delta cost: safe for upserts even though they
        // REWRITE rows — keys are never removed, so folding the upsert
        // keys into the served bloom keeps a superset (a false maybe →
        // the exact probe), never a wrong disjointness answer
        writeRowStats(s, p, summaryKey, Some(prevDir -> upserts))
      }
    } finally upserts.unpersist(): Unit
  }

  /** Test hook: force the LSM major-rewrite file budget ([[fileBudget]]). */
  @volatile private[graft] var lsmBudgetOverride: Option[Long] = None

  /** Major-compaction trigger of every LSM-grown store ([[stageLsmStep]]):
    * appended runs may grow a version to 4× its byte-ideal file count,
    * never below 4× `floor`, before a publish pays the history shuffle to
    * restore the tight layout. */
  private[graft] def fileBudget(bytes: Long, floor: Long): Long =
    lsmBudgetOverride.getOrElse(4L * math.max(floor, bytes / SourceBytesPerFile))

  /** The one bytes → file-count rule: a file per [[SourceBytesPerFile]],
    * at least `floor`, at most [[MaxTierFiles]]. */
  private[graft] def filesFor(bytes: Long, floor: Int): Int =
    math.max(floor, math.min(bytes / SourceBytesPerFile, MaxTierFiles).toInt)

  /** The data files a reader scans under `dir` ([[Tables.filesAt]]): a
    * hidden dir (a survivors version's `_syncdelta`) or an in-flight
    * `*._COPYING_` never counts toward a budget, `_stats` or a writer's
    * sizing. */
  private[graft] def dataFiles(s: SparkSession, dir: Path): Seq[Tables.SourceFile] =
    Tables.filesAt(s, dir).getOrElse(Nil)

  /** ([[dataFiles]] count, their bytes). */
  private[graft] def dirStats(s: SparkSession, dir: Path): (Long, Long) = {
    val files = dataFiles(s, dir)
    (files.size.toLong, files.map(_.len).sum)
  }

  /** Same tier row shape (names + types, order- and nullability-
    * insensitive — parquet round-trips widen containsNull/nullable, so
    * nullability must be normalized RECURSIVELY or every array-column
    * tier would flunk its own byte-copy precondition) — the LSM
    * append's guard against mixed-schema versions. */
  private def sameTierSchema(a: org.apache.spark.sql.types.StructType,
                             b: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    def denull(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(denull(e), containsNull = true)
      case MapType(k, v, _) => MapType(denull(k), denull(v), valueContainsNull = true)
      case StructType(fs) =>
        StructType(fs.map(f => StructField(f.name, denull(f.dataType))))
      case other => other
    }
    a.fields.map(f => f.name -> denull(f.dataType)).toSet ==
      b.fields.map(f => f.name -> denull(f.dataType)).toSet
  }

  /** What one LSM compaction step ([[stageLsmStep]]) staged: the staging
    * dir and, for a minor append, the data files the delta write added
    * beside the byte-copied base (None: a major rewrite). */
  private[graft] final case class LsmStep(staging: Path, appended: Option[Seq[String]]) {
    def record: RefreshRecord =
      RefreshRecord("merge", if (appended.isDefined) "lsm-append" else "lsm-rewrite")
  }

  /** The LSM compaction step of every append-grown store — the
    * [[Refresh.Lsm]] tiers and the stream gate's two compacted stores
    * (`StreamTierIngest.fold`/`foldSurvivors`). MINOR while the served
    * base `prev`'s data-file count stays within
    * [[fileBudget]]`(its bytes, budgetFloor)`: the base's data files are
    * byte-copied ([[copyTree]]) — history never moves through a shuffle —
    * and `writeDelta(stagingDir, numFiles)` writes the delta beside them
    * as sorted runs, `numFiles` = [[filesFor]]`(deltaBytes, 1)`: a small
    * night adds a file, not a floor's worth.
    * MAJOR once the count breaches it, or on `forceRewrite` (a base whose
    * content the caller can't vouch for): `rewrite(baseBytes)` stages
    * base ∪ delta from scratch. The caller adds its sidecars to the
    * returned staging dir and commits it ([[commitStaged]]). */
  private[graft] def stageLsmStep(s: SparkSession, store: String, prev: Path,
                                  budgetFloor: Long, deltaBytes: Long,
                                  forceRewrite: Boolean = false)
                                 (writeDelta: (String, Int) => Unit)
                                 (rewrite: Long => Path): LsmStep = {
    val base = dataFiles(s, prev)
    val baseBytes = base.map(_.len).sum
    if (forceRewrite || base.size > fileBudget(baseBytes, budgetFloor))
      LsmStep(rewrite(baseBytes), None)
    else {
      val staging = AtomicPublish.stageVersionWith(store) { p =>
        copyTree(s, prev, new Path(p), keep = !Tables.hidden(_))
        writeDelta(p, filesFor(deltaBytes, 1))
      }
      val baseRels = base.map(_.rel).toSet
      LsmStep(staging,
        Some(dataFiles(s, staging).filterNot(f => baseRels(f.rel)).map(_.path)))
    }
  }

  /** [[Refresh.Lsm]] staging through [[stageLsmStep]] (floor: the tier's
    * `numFiles`): the minor append's delta runs are sized by `deltaFiles`
    * (the AppendOnly source paths — tier bytes track source bytes within
    * a constant factor, the [[scaledNumFiles]] argument) and its sidecars
    * maintained at delta cost; the major rewrite is base ∪ delta through
    * the full layout. Returns the staging dir and its record. */
  private def stageLsm(s: SparkSession, store: String, prevDir: Path,
                       deltaRows: DataFrame,
                       deltaFiles: Map[String, Seq[String]], fp: String,
                       numFiles: Int, sortKey: String,
                       summaryKey: Option[String]): (Path, RefreshRecord) = {
    val deltaBytes = deltaFiles.valuesIterator.flatten.map { f =>
      val p = new Path(f)
      hadoopFs(s, p).getFileStatus(p).getLen
    }.sum
    val step = stageLsmStep(s, store, prevDir, numFiles, deltaBytes) {
      (p, n) => SortedLayout.writeRangeSorted(deltaRows, p, n, SaveMode.Append, col(sortKey))
    } { _ =>
      stageFullLayout(s, store,
        s.read.parquet(prevDir.toString).unionByName(deltaRows), fp, numFiles,
        sortKey, summaryKey)
    }
    step.appended.foreach(newFiles =>
      mergeSidecars(s, prevDir, step.staging.toString, newFiles, sortKey, summaryKey))
    step.staging -> step.record
  }

  /** Delta-cost sidecar maintenance for an LSM append: copied base
    * files kept their names, so prev entries stay valid — only the new
    * runs need stats. */
  private def mergeSidecars(s: SparkSession, prevDir: Path, stagingDir: String,
                            newFiles: Seq[String], sortKey: String,
                            summaryKey: Option[String]): Unit = {
    if (newFiles.isEmpty) {
      // empty delta: the base's sidecars describe the new version too
      copyTree(s, prevDir, new Path(stagingDir), keep = RowSidecars)
      return
    }
    val newDf = s.read.parquet(newFiles: _*) // shared by every sidecar
    // _stats at delta cost: rows ADD unconditionally under the
    // append-only contract (a metadata-only count over the new runs);
    // bytes re-listed; column profiles merge field-wise (below). A
    // legacy base without the sidecar pays one full pass, then stays
    // delta-cost forever.
    rowStatsOfVersion(s, prevDir.toString) match {
      case Some(prev) =>
        val deltaN = newDf.count()
        val deltaCols = columnProfile(newDf, deltaN)
        val bytes = dirStats(s, new Path(stagingDir))._2
        val tot = prev.rows + deltaN
        // merge grain (r14 review): a row-free delta (appended files,
        // zero rows) adds NO values, so prev's profile stays exact; a
        // row-free BASE means the delta IS the tier, so its profile is
        // exact. Otherwise merge field-wise over prev's columns —
        // columns only the delta measured (a legacy avg-only base) are
        // OMITTED, not taken: a delta-grain width or interval presented
        // as tier-grain would understate widths (the wrongly-broadcast
        // direction) and SHRINK value intervals (the false-disjoint
        // zero-estimate direction); they refresh at the next rewrite.
        val mergedCols: Map[String, graft.plans.ColStat] =
          if (deltaN == 0) prev.cols
          else if (prev.rows == 0) deltaCols
          else prev.cols.map { case (c, p) =>
            val d = deltaCols.getOrElse(c, graft.plans.ColStat.empty)
            // field absences on the DELTA side mean "no measurable
            // values added" (an all-null column, a non-finite float
            // aggregate — schema drift can't reach here, the
            // sameTierSchema guard routed it to the full build): prev's
            // measurement still covers every measured value, so keep
            // it rather than dropping to defaults. Absences on the
            // PREV side stay absent — see the grain note above.
            val avg = (p.avgLen, d.avgLen) match {
              case (Some(pl), Some(dl)) =>
                Some((prev.rows * pl + deltaN * dl + tot - 1) / tot)
              case (pa, _) => pa
            }
            val mx = (p.maxLen, d.maxLen) match {
              case (Some(a), Some(b)) => Some(a max b)
              case (pa, _) => pa
            }
            // NDV cannot merge from two scalars. ONLY the summarized
            // key's values are DISJOINT under the deltaMerge contract
            // (counts add exactly); every other column — including the
            // sort key, whose values recur across append nights in the
            // token/band tiers — keeps the larger side, a LOWER bound
            // of the true NDV: the conservative direction for join
            // estimation (an understated NDV overestimates join
            // output; an overstated one under-estimates and wrongly
            // broadcasts, compounding every night it is summed)
            val disjointKey = summaryKey.contains(c)
            val nd = (p.ndv, d.ndv) match {
              case (Some(a), Some(b)) => Some(if (disjointKey) a + b else a max b)
              case (pa, _) => pa
            }
            // nulls add exactly under appends
            val nl = (p.nulls, d.nulls) match {
              case (Some(a), Some(b)) => Some(a + b)
              case (pa, _) => pa
            }
            // value bounds widen exactly under appends (numeric
            // external strings; BigDecimal compare, since "9" < "10"
            // textually fails); an unparseable bound drops both sides
            def widen(a: Option[String], b: Option[String],
                      pick: (BigDecimal, BigDecimal) => BigDecimal) =
              (a, b) match {
                case (Some(x), Some(y)) => scala.util.Try(
                  if (pick(BigDecimal(x), BigDecimal(y)) == BigDecimal(x)) x
                  else y).toOption
                case (pa, _) => pa
              }
            val vmin = widen(p.min, d.min, _ min _)
            val vmax = widen(p.max, d.max, _ max _)
            c -> graft.plans.ColStat(avg, mx, nd, nl, vmin, vmax)
          }
        writeRowStatsRecord(s, stagingDir, TierRowStats(tot, bytes, mergedCols,
          summaryKey.flatMap(keyBloom(s, stagingDir, s.read.parquet(stagingDir), _,
            mergedCols, Some(prevDir -> newDf)))))
      case None => writeRowStats(s, stagingDir, summaryKey)
    }
    // _filemap: prev entries + the new runs' stats (ranges may overlap
    // the base's — pruning degrades gracefully, never wrongly, until
    // the major rewrite restores disjointness)
    ZoneMap.mergeManifest(s, prevDir.toString, stagingDir, sortKey, newFiles)
  }

  /** Write the version's `_keybloom` over summary key `key` and return
    * the (key, capacity) its `_stats` line records. The NDV comes from
    * the version's profile `cols`. With `grown` (the served version
    * and the rows this publish added), the added keys fold into the
    * served bloom at O(Δ) — a bloom built at the same capacity is
    * bit-compatible — while the NDV fits the capacity the served
    * version's `_stats` line records. Otherwise (no or exhausted
    * capacity, a first publish) one pass over `staged` builds it fresh
    * at 2× headroom, amortized to corpus doublings. None past
    * [[BloomMaxKeys]] or for a key type the bloom doesn't cover. */
  private def keyBloom(s: SparkSession, dir: String, staged: => DataFrame,
                       key: String, cols: Map[String, graft.plans.ColStat],
                       grown: Option[(Path, DataFrame)]): Option[(String, Long)] =
    cols.get(key).flatMap(_.ndv).filter(_ <= BloomMaxKeys).flatMap { ndv =>
      val folded = for {
        (prevDir, added) <- grown
        cap <- rowStatsOfVersion(s, prevDir.toString).flatMap(_.bloom)
          .collect { case (`key`, c) if ndv <= c => c }
        pb <- bloomAt(s, prevDir)
        kf <- bloomKeyed(added, key)
        bf <- scala.util.Try {
          val b = kf.stat.bloomFilter(key, cap, 0.01)
          b.mergeInPlace(pb); b
        }.toOption
      } yield bf -> cap
      folded.orElse(bloomKeyed(staged, key).map { kf =>
        val cap = bloomCapacity(ndv)
        kf.stat.bloomFilter(key, cap, 0.01) -> cap
      }).map { case (bf, cap) =>
        val bp = new Path(dir, KeyBloomFile)
        val out = hadoopFs(s, bp).create(bp, true)
        try bf.writeTo(out) finally out.close()
        key -> cap
      }
    }

  /** Bloom capacity for a tier with `cnt` distinct keys: 2× headroom
    * so nightly appends merge instead of rebuilding, capped at
    * [[BloomMaxKeys]]. */
  private def bloomCapacity(cnt: Long): Long =
    math.min(math.max(2L * math.max(cnt, 1L), 1024L), BloomMaxKeys)

  /** The bloom-typed projection of `key` (the same casts the probe
    * uses); None for types the bloom doesn't cover. */
  private def bloomKeyed(df: DataFrame, key: String): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    df.schema(key).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(df.select(col(key).cast("long").as(key)))
      case StringType => Some(df.select(col(key)))
      case _ => None
    }
  }

  /** ~256 MB of bytes per output file — the shuffle-partition-sized
    * unit that keeps single-file write tasks bounded and keyed reads
    * parallel at any corpus size. Read only by [[filesFor]] (every
    * tier, fold and sync writer's file count) and [[fileBudget]] (every
    * LSM store's major-compaction trigger). */
  private[graft] val SourceBytesPerFile = 256L * 1024 * 1024

  /** Sanity ceiling on any bytes-scaled file count. */
  private[graft] val MaxTierFiles = 200000L

  /** Scale a tier's file count with its sources: `base` is the floor
    * (small/test corpora keep it), and every [[SourceBytesPerFile]] of
    * fingerprinted source data adds a file. Parsed from the
    * fingerprint's own `path:size:mtime` lines — no extra listing. */
  private def scaledNumFiles(base: Int, fp: String): Int = {
    val bytes = fp.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val parts = line.split(':')
      if (parts.length >= 3) parts(parts.length - 2).toLongOption.getOrElse(0L)
      else 0L
    }.sum
    filesFor(bytes, base)
  }

  /** A stale store about to rebuild/merge must not read plans pinned
    * to the PRE-drift file snapshot: Spark's cache manager matches a
    * re-read of the same path against a cached entry built from
    * yesterday's listing (HadoopFsRelation equality is path-grain, not
    * file-grain), so a long-lived session that cached source-derived
    * frames before an append would publish a tier missing the delta —
    * with a fingerprint that claims it. The release is SCOPED
    * (r10 review): only registered caches that scan one of THIS
    * tier's source tables with a listing that no longer matches disk
    * are dropped — a cache the in-flight query registered over the
    * post-drift listing (or over unrelated tables) survives, so the
    * stale-serve night doesn't re-introduce the double-scans the
    * registered-cache discipline exists to prevent. Only done when a
    * committed version exists and went stale, the one case where a
    * pinned pre-drift plan can poison the publish. */
  private def dropPinnedPlans(s: SparkSession, dir: String,
                              sources: Seq[String], store: String): Unit =
    if (AtomicPublish.currentVersion(s, store).nonEmpty)
      releaseStaleSourceCaches(s, dir, sources)

  /** Release registered caches whose pinned file listing for any of
    * `sources` disagrees with the current on-disk listing. */
  private def releaseStaleSourceCaches(s: SparkSession, dir: String,
                                       sources: Seq[String]): Unit = {
    val roots = sources.flatMap { t =>
      Tables.sourceFiles(s, dir, t).map { files =>
        val p = new Path(dir, s"$t.parquet")
        hadoopFs(s, p).makeQualified(p).toString -> files.map(_.path).toSet
      }
    }.toMap
    graft.core.Caching.releaseIf { ds =>
      val files = ds.inputFiles
      roots.exists { case (root, cur) =>
        val underRoot = files.filter(f => f == root || f.startsWith(root + "/")).toSet
        underRoot.nonEmpty && underRoot != cur
      }
    }: Unit
  }

  /** Stage-then-verify publication: `stage(fp)` builds a version from
    * sources fingerprinted as `fp` and returns its [[RefreshRecord]],
    * then the sources are re-listed —
    * a write landing between the fingerprint and the build's read
    * (the TOCTOU freshness race) shows up as a mismatch, the staged
    * bytes are discarded, and the attempt repeats against the fresh
    * listing. A source that never quiesces ([[MaxStageAttempts]]
    * straight misses) commits the final attempt under
    * [[ChurnSentinel]]: served data stays complete-and-committed, but
    * the version can never be mistaken for fresh, and the sentinel
    * classifies as Rewritten so no merge re-digests ambiguous files. */
  private def publishRechecked(s: SparkSession, dir: String,
                               sources: Seq[String], store: String,
                               fp0: String)(stage: String => (Path, RefreshRecord)): Long = {
    var fp = fp0
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      attempt += 1
      onFingerprinted()
      val (staging, record) = stage(fp)
      val fpAfter = fileEntries(s, dir, sources).mkString("\n")
      if (fpAfter == fp) committed = commitStaged(s, store, staging, fp, record)
      else if (attempt >= MaxStageAttempts)
        // the sentinel line is followed by the (statically known)
        // source TABLE names so provenance survives the churn; the
        // combined text still never equals a real listing
        committed = commitStaged(s, store, staging, provenanceOnly(sources), record)
      else {
        hadoopFs(s, staging).delete(staging, true): Unit
        // the retry's fresh read must not pin the listing the torn
        // attempt cached — same scoped release, unconditional here
        // (unlike dropPinnedPlans' committed-version gate): drift
        // mid-build is proven
        releaseStaleSourceCaches(s, dir, sources)
        fp = fpAfter
      }
    }
    committed
  }

  /** A directory tier's append-only refresh callback:
    * `(session, sfDir, stagingPath, deltaFilesPerTable) => merged?`.
    * When invoked, `stagingPath` already holds a byte-copy of the
    * served version's artifacts; the callback folds the delta files
    * into them in place (e.g. `AnnIndex.append` + partition
    * compaction) and returns true, or returns false to reject the
    * batch (a precondition trip — centroid-eligible ids, key overlap)
    * and route the refresh to the full build. */
  type DirMerge = (SparkSession, String, String, Map[String, Seq[String]]) => Boolean

  /** Serve a DIRECTORY-shaped tier — multi-dataset artifacts whose
    * builder owns the inner layout (an ANN index's centroids +
    * cell-partitioned postings + metric marker) — through the same
    * fingerprint/OCC protocol as the frame tiers. `write` stages a full
    * build; returns the fresh committed version's PATH, and the caller
    * reads the structure inside. With a `merge`, AppendOnly drift
    * starts the next version as an IO-only byte-copy of the served one
    * — no recompute of the artifact's build (for an ANN index: no
    * centroid election, no corpus re-assignment, no re-encode of
    * history) — and `merge` folds just the delta in. Any other drift,
    * or a merge returning false, takes the full `write`. The copy is
    * the price of immutable versions: bytes move, computation
    * doesn't. */
  def servedDir(s: SparkSession, dir: String, name: String,
                sources: Seq[String], merge: Option[DirMerge] = None)
               (write: (SparkSession, String, String) => Unit): String = {
    val store = storePath(dir, name)
    serve(s, dir, name, sources) { (_, append) =>
      val merged = for {
        m <- merge
        a <- append
        staging = AtomicPublish.stageVersionWith(store)(p =>
          copyVersion(s, a.prev.toString, p))
        p <- if (m(s, dir, staging.toString, a.delta)) Some(staging)
             else { // guard trip: discard the copy, take the full build
               hadoopFs(s, staging).delete(staging, true): Unit
               None
             }
      } yield p
      merged.map(_ -> RefreshRecord("merge", "dir-copy")).getOrElse(
        AtomicPublish.stageVersionWith(store)(p => write(s, dir, p)) ->
          RefreshRecord("full", "dir"))
    }
  }

  /** Byte-copy a committed version's artifacts into a staging dir —
    * the commit records (`_SUCCESS`, `_fingerprint`, `_refresh`) stay
    * behind; [[commitStaged]] writes the new version's own. */
  private def copyVersion(s: SparkSession, from: String, to: String): Unit =
    copyTree(s, new Path(from), new Path(to),
      keep = n => n != FingerprintFile && n != RefreshFile && n != "_SUCCESS")

  /** Test hook / tuning knob: the file count above which [[copyTree]]
    * fans the per-file byte moves out to executors. The driver loop is
    * right for test-grain trees (no job overhead); a warehouse-scale
    * base (the nightly fold / LSM-append history move) must not stream
    * every history byte through one driver thread. */
  @volatile private[graft] var distributedCopyMinFiles = 33

  /** Driver-side recursive copy of a version dir's entries whose names
    * pass `keep` — the one byte-copy loop behind every "new version
    * starts as a copy of the served one" path (the dir tiers' copy, the
    * bucketed patch, and [[stageLsmStep]]'s minor append for LSM tiers
    * and stream folds). */
  private[graft] def copyTree(s: SparkSession, from: Path, to: Path,
                              keep: String => Boolean): Unit = {
    val fs = hadoopFs(s, from)
    val conf = s.sparkContext.hadoopConfiguration
    fs.mkdirs(to): Unit
    // enumerate kept FILES with their paths relative to `from` — the
    // unit of parallel copy. Directories are re-created up front
    // (cheap metadata ops) so an EMPTY subdir survives the copy the
    // way the old recursive FileUtil.copy preserved it — a dir-tier
    // artifact's reader must find the directory it left behind.
    val rels = Seq.newBuilder[String]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val r = if (rel.isEmpty) st.getPath.getName
                else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) { fs.mkdirs(new Path(to, r)): Unit; walk(st.getPath, r) }
        else rels += r
      }
    fs.listStatus(from).foreach { st =>
      if (keep(st.getPath.getName)) {
        if (st.isDirectory) {
          fs.mkdirs(new Path(to, st.getPath.getName)): Unit
          walk(st.getPath, st.getPath.getName)
        } else rels += st.getPath.getName
      }
    }
    val files = rels.result()
    if (files.size <= distributedCopyMinFiles)
      files.foreach { r =>
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from, r), fs,
          new Path(to, r), false, conf): Unit
      }
    else {
      // distributed byte move: one executor task per file batch, each
      // opening src/dst through its own FileSystem — history bytes
      // never pass through the driver. The Hadoop conf travels as
      // key-value pairs (Configuration itself is not serializable).
      import scala.jdk.CollectionConverters._
      val confKv = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray
      val (fromS, toS) = (from.toString, to.toString)
      val slices = math.min(files.size, s.sparkContext.defaultParallelism * 4)
      s.sparkContext.parallelize(files, slices).foreachPartition { it =>
        val c = new org.apache.hadoop.conf.Configuration()
        confKv.foreach { case (k, v) => c.set(k, v) }
        it.foreach { r =>
          val src = new Path(s"$fromS/$r")
          val dst = new Path(s"$toS/$r")
          org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(c), src,
            dst.getFileSystem(c), dst, false, c): Unit
        }
      }
    }
  }

  /** The shared publication tail of every serve-loop publish and every
    * stream fold: drop the fingerprint (a fold's is [[provenanceOnly]]),
    * the [[RefreshRecord]] (and a `_SUCCESS` commit record if the writer
    * didn't leave one at the root — parquet writes do, directory
    * builders may not) INSIDE the staged dir, then the OCC commit
    * rename and the keep-2 GC sweep. */
  private[graft] def commitStaged(s: SparkSession, store: String, staging: Path,
                                  fp: String, record: RefreshRecord): Long = {
    // fingerprint and record ride inside the staged version so the
    // commit rename publishes data + provenance atomically
    val fs = hadoopFs(s, staging)
    Sidecar.write(fs, new Path(staging, FingerprintFile), fp)
    Sidecar.write(fs, new Path(staging, RefreshFile),
      s"mode=${record.mode} layout=${record.layout}")
    val succ = new Path(staging, "_SUCCESS")
    if (!fs.exists(succ)) fs.create(succ, true).close()
    val n = AtomicPublish.commitStagedOcc(s, store, staging)
    // superseded versions survive ONE refresh cycle: a reader
    // that resolved v(n-1) moments ago keeps its files until
    // the NEXT publish (Vacuum's keep-window, shared GC)
    Vacuum.sweep(s, store, keepVersions = 2): Unit
    n
  }
}
