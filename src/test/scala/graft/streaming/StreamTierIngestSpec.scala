package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The streaming ingest gate over the persistent band index: arriving
  * batches dedup against the corpus AND against every earlier batch's
  * survivors (the standing index grows per batch), and the whole
  * pipeline is replay-safe — a crash-replay of an applied batch
  * recomputes the same survivors into the same partitions. */
class StreamTierIngestSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  /** Drain-and-stop: AvailableNow self-terminates, but the query stays
    * in the active registry briefly after awaitTermination — a fast
    * same-checkpoint restart then trips the concurrent-use guard. */
  private def drain(in: String, schema: org.apache.spark.sql.types.StructType,
                    idx: String, out: String, ckpt: String): Unit = {
    val q = StreamTierIngest.start(spark, in, schema, idx, out, ckpt)
    q.awaitTermination()
    q.stop()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** Re-crawls: same text, new ids — content dups the gate must drop. */
  private def copiesOf(d: DataFrame, offset: Long): DataFrame =
    d.withColumn("doc_id", col("doc_id") + lit(offset))

  test("batches dedup against corpus + earlier survivors; replay is exactly-once") {
    val base = tmpDir("stream-tier")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val schema = docs.schema

    val corpus = docs.filter(col("doc_id") % 3 === 0).cache()
    StreamTierIngest.bootstrapIndex(corpus, idx)
    val bootBands = StreamTierIngest.index(spark, idx).count()

    // batch 0: genuinely new docs + 20 re-crawled corpus docs
    val fresh1 = docs.filter(col("doc_id") % 3 === 1).cache()
    val dupes1 = copiesOf(corpus.limit(20), 1000000L)
    fresh1.unionByName(dupes1).coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)

    val s1 = spark.read.parquet(out)
    assert(s1.filter(col("doc_id") >= 1000000L).count() == 0,
      "re-crawled corpus docs must be dropped by content")
    // the synthetic corpus plants near-dup families, so SOME fresh docs
    // may legitimately match the corpus index; every survivor must be
    // a fresh doc and the clearly-unique majority must survive
    val kept1 = s1.count()
    assert(kept1 > 0 && kept1 <= fresh1.count())
    assert(StreamTierIngest.index(spark, idx).count() == bootBands + kept1 * 4,
      "survivors' 4 band keys each must extend the index")

    // batch 1: re-crawls of batch-0 SURVIVORS (cross-batch dups — the
    // standing index already carries their bands) + a few new docs
    val survivorIds = s1.select("doc_id").limit(15)
    val dupes2 = copiesOf(docs.join(survivorIds, "doc_id"), 2000000L)
    val fresh2 = docs.filter(col("doc_id") % 3 === 2).limit(10)
    dupes2.unionByName(fresh2)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)

    val s2 = spark.read.parquet(out)
    assert(s2.filter(col("doc_id") >= 2000000L).count() == 0,
      "yesterday's survivors must gate today's re-crawls — no batch re-serve")
    val total = s2.count()
    assert(total > kept1, "genuinely new batch-1 docs survive")

    // THE crash window (kill-mid-batch's shape): the foreachBatch body
    // completed (survivors + index partitions written) but the query
    // died before committing batch 1 to its checkpoint. Deleting the
    // commit record replays batch 1 with the SAME id over the SAME
    // files; the self-partition-excluded probe must see the batch-0
    // survivors' bands (still gating dupes2) while NOT matching the
    // replayed docs against their own half-written partition.
    val lastCommit = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$ckpt/commits")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(!_.getFileName.toString.startsWith("."))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(lastCommit)
    // the local-FS checksum shadow must go with it, or the replay's
    // commit rename collides with the stale .crc
    java.nio.file.Files.deleteIfExists(lastCommit.resolveSibling(
      "." + lastCommit.getFileName.toString + ".crc")): Unit
    drain(in, schema, idx, out, ckpt)
    assert(spark.read.parquet(out).count() == total,
      "a same-batch crash-replay must not duplicate or drop survivors")
    assert(spark.read.parquet(out)
      .filter(col("doc_id") >= 2000000L).count() == 0,
      "the replayed batch still gates on the earlier batches' bands")

    // restart with the intact checkpoint: nothing reprocessed
    drain(in, schema, idx, out, ckpt)
    assert(spark.read.parquet(out).count() == total)

    // a FRESH checkpoint over the retained sink dirs would restart
    // batch ids at 0 and dynamic-overwrite committed partitions (data
    // loss) — start() must refuse before planning a single batch (the
    // _checkpoint binding marker catches the mismatch first)
    val e = intercept[IllegalArgumentException] {
      StreamTierIngest.start(spark, in, schema, idx, out, s"$base/ckpt-fresh")
    }
    assert(e.getMessage.contains("bound to checkpoint"))
    corpus.unpersist(); fresh1.unpersist(): Unit
  }

  /** The nightly fold: compacts replay-immune batch partitions into
    * the band_bucket-partitioned base so the probe is file-pruned and
    * bounded by the compaction interval — survivors must be identical
    * to a never-folded run, and a crash-replay spanning the fold must
    * stay exactly-once. */
  test("fold: survivors match the never-folded run; probe prunes; replay across the fold is exactly-once") {
    val base = tmpDir("stream-fold")
    val schema = docs.schema
    // A folds between batches; B never folds — the control
    def dirs(side: String) =
      (s"$base/$side/in", s"$base/$side/idx", s"$base/$side/out", s"$base/$side/ckpt")
    val (inA, idxA, outA, ckptA) = dirs("a")
    val (inB, idxB, outB, ckptB) = dirs("b")

    val corpus = docs.filter(col("doc_id") % 3 === 0).cache()
    StreamTierIngest.bootstrapIndex(corpus, idxA)
    StreamTierIngest.bootstrapIndex(corpus, idxB)

    // batch 0: fresh docs + re-crawled corpus content
    val b0 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(copiesOf(corpus.limit(10), 1000000L))
    b0.coalesce(1).write.mode("append").parquet(inA)
    b0.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)

    val rowsPreFold = StreamTierIngest.index(spark, idxA).count()
    val folded = StreamTierIngest.fold(spark, idxA, ckptA)
    assert(folded.exists(_.parts == 2), s"bootstrap + batch 0 must fold, got $folded")
    assert(folded.exists(_.mode == "full"),
      "the first fold writes the base from scratch")
    assert(StreamTierIngest.index(spark, idxA).count() == rowsPreFold,
      "fold moves rows, never loses them")
    assert(StreamTierIngest.fold(spark, idxA, ckptA).isEmpty,
      "re-running a folded night is a no-op")
    // folding with a FOREIGN checkpoint (here: B's, which is ahead of
    // whatever A has pending) could fold a batch A's true checkpoint
    // still considers replayable — the binding marker refuses
    val wrongCkpt = intercept[IllegalArgumentException] {
      StreamTierIngest.fold(spark, idxA, ckptB)
    }
    assert(wrongCkpt.getMessage.contains("bound to checkpoint"))

    // the compacted base prunes: a narrow bucket probe touches fewer
    // files than the whole base (the pre-fold ingest_batch layout
    // could never prune on band keys)
    val comp = StreamTierIngest.probeBase(spark, idxA, None)
    val probed = StreamTierIngest.probeBase(spark, idxA, Some(Seq(0, 1)))
    def filesOf(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    assert(filesOf(probed) < filesOf(comp),
      s"bucket probe must file-prune: ${filesOf(probed)} vs ${filesOf(comp)}")

    // batch 1: re-crawls of batch-0 survivors (the standing-index
    // gate) + genuinely new docs — ingested on BOTH sides
    val survivorIds = spark.read.parquet(outA).select("doc_id").limit(15)
    val b1 = copiesOf(docs.join(survivorIds, "doc_id"), 2000000L)
      .unionByName(docs.filter(col("doc_id") % 3 === 2).limit(20))
    b1.coalesce(1).write.mode("append").parquet(inA)
    b1.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)

    val survA = spark.read.parquet(outA).select("doc_id")
    val survB = spark.read.parquet(outB).select("doc_id")
    assert(survA.exceptAll(survB).isEmpty && survB.exceptAll(survA).isEmpty,
      "fold-then-ingest must equal never-folded ingest")

    // crash window SPANNING a fold: batch 1's sink writes landed, its
    // checkpoint commit didn't, and the nightly fold ran before the
    // restart. The fold must leave the uncommitted batch live (its id
    // > last committed), so the replay overwrites its own partition
    // and still probes bootstrap+batch-0 bands from the compacted base.
    val total = survA.count()
    val lastCommit = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$ckptA/commits")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(!_.getFileName.toString.startsWith("."))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(lastCommit)
    java.nio.file.Files.deleteIfExists(lastCommit.resolveSibling(
      "." + lastCommit.getFileName.toString + ".crc")): Unit
    assert(StreamTierIngest.fold(spark, idxA, ckptA).isEmpty,
      "nothing foldable: batch 1 is in the crash window, earlier ids already folded")
    drain(inA, schema, idxA, outA, ckptA) // replays batch 1
    assert(spark.read.parquet(outA).count() == total,
      "replay across the fold must not duplicate or drop survivors")
    assert(spark.read.parquet(outA).filter(col("doc_id") >= 2000000L).count() == 0,
      "the replayed batch still gates on the folded bands")

    // nightly minor compaction: with the base in place, folding the
    // re-committed batch 1 APPENDS delta-sized sorted runs (history
    // moves as a byte-copy, never through a shuffle); counts still
    // match the never-folded control and the watermark advances
    val fold2 = StreamTierIngest.fold(spark, idxA, ckptA)
    assert(fold2.exists(_.parts == 1), s"batch 1 must fold, got $fold2")
    assert(fold2.exists(_.mode == "append"),
      s"second fold is the minor-compaction append, got $fold2")
    assert(StreamTierIngest.index(spark, idxA).count() ==
      StreamTierIngest.index(spark, idxB).count(),
      "append-folded index equals the never-folded control")
    assert(StreamTierIngest.fold(spark, idxA, ckptA).isEmpty,
      "and the next night is a no-op again")
    // a re-bootstrap after folding would be mistaken for an
    // already-folded crash leftover at the next fold and deleted
    // unfolded — refuse loudly
    val reboot = intercept[IllegalArgumentException] {
      StreamTierIngest.bootstrapIndex(corpus, idxA)
    }
    assert(reboot.getMessage.contains("compacted base"))

    // MAJOR rewrite: when appended runs breach the file budget, the
    // fold restores the tight layout in one range-sorted write — same
    // rows, fewer files
    val b2 = docs.filter(col("doc_id") % 3 === 2)
      .filter(col("doc_id") % 7 === 0).limit(8)
    b2.coalesce(1).write.mode("append").parquet(inA)
    b2.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)
    val preRewrite = StreamTierIngest.index(spark, idxA).count()
    graft.io.DerivedStore.lsmBudgetOverride = Some(0L) // force the trigger
    try {
      val fr = StreamTierIngest.fold(spark, idxA, ckptA)
      assert(fr.exists(f => f.parts == 1 && f.mode == "rewrite"),
        s"budget breach must take the major rewrite: $fr")
    } finally graft.io.DerivedStore.lsmBudgetOverride = None
    assert(StreamTierIngest.index(spark, idxA).count() == preRewrite &&
      StreamTierIngest.index(spark, idxA).count() ==
        StreamTierIngest.index(spark, idxB).count(),
      "the rewrite keeps exactly the same rows")

    // LEGACY base (pre-watermark version): the fold cannot prove the
    // fresh partitions aren't already folded in, so it routes to the
    // rewrite whose distinct() restores idempotence once
    val store = s"$idxA/.compacted"
    val v = graft.io.AtomicPublish.currentVersion(spark, store).get
    val marker = new java.io.File(s"$store/v=$v/_folded")
    assert(marker.delete(), "test setup: strip the watermark")
    val b3 = docs.filter(col("doc_id") % 3 === 2)
      .filter(col("doc_id") % 7 === 1).limit(8)
    b3.coalesce(1).write.mode("append").parquet(inA)
    b3.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)
    val fl = StreamTierIngest.fold(spark, idxA, ckptA)
    assert(fl.exists(f => f.parts == 1 && f.mode == "rewrite"),
      s"a legacy base routes to the rewrite: $fl")
    assert(StreamTierIngest.index(spark, idxA).count() ==
      StreamTierIngest.index(spark, idxB).count(),
      "legacy upgrade neither loses nor duplicates rows")
    corpus.unpersist(): Unit
  }

  test("intraBatchExact: a duplicate-heavy batch lands one survivor per content, replay-safe") {
    val base = tmpDir("stream-intra")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val schema = docs.schema
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)

    // a crawler burst: the same fresh doc under 5 different ids
    val fresh = docs.filter(col("doc_id") % 3 === 1).limit(1).cache()
    val freshId = fresh.head().getAs[Long]("doc_id")
    val burst = (1 to 5).map(i => copiesOf(fresh, 3000000L + i * 10))
      .reduce(_ unionByName _)
      .unionByName(docs.filter(col("doc_id") % 3 === 2).limit(5))
    burst.coalesce(1).write.mode("append").parquet(in)

    def drainIntra(): Unit = {
      val q = StreamTierIngest.start(spark, in, schema, idx, out, ckpt,
        intraBatchExact = true)
      q.awaitTermination(); q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    drainIntra()
    val out1 = spark.read.parquet(out)
    assert(out1.filter(col("doc_id") >= 3000000L).count() == 1,
      "exactly one of the burst's 5 content-identical copies survives")
    assert(out1.filter(col("doc_id") >= 3000000L)
      .select("doc_id").head().getLong(0) == freshId + 3000010L,
      "the lowest doc_id wins — deterministic under replay")
    val total = out1.count()
    fresh.unpersist(): Unit

    // crash-replay: same batch id, same data -> same survivors
    val lastCommit = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$ckpt/commits")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(!_.getFileName.toString.startsWith("."))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(lastCommit)
    java.nio.file.Files.deleteIfExists(lastCommit.resolveSibling(
      "." + lastCommit.getFileName.toString + ".crc")): Unit
    drainIntra()
    assert(spark.read.parquet(out).count() == total &&
      spark.read.parquet(out).filter(col("doc_id") >= 3000000L).count() == 1)
  }

  test("dirStats counts only the data files a reader scans") {
    val dir = tmpDir("dirstats")
    val rows = docs.select("doc_id").limit(40)
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    rows.coalesce(1).write.parquet(s"$dir/t")
    // a `_p=1/` partition dir is data, as Spark reads it
    rows.limit(7).repartition(2).write.parquet(s"$dir/t/_p=1")
    val data = parts(s"$dir/t")
    val dataFiles = data ++ parts(s"$dir/t/_p=1")
    assert(dataFiles.length == 3)
    // strays no reader scans: an in-flight copy, a hidden side dir
    // (a version's _syncdelta), the writers' commit records and .crc
    java.nio.file.Files.copy(data.head.toPath,
      java.nio.file.Paths.get(s"${data.head.getPath}._COPYING_"))
    rows.coalesce(1).write.parquet(s"$dir/t/_syncdelta")
    val (n, bytes) = graft.io.DerivedStore.dirStats(spark, new org.apache.hadoop.fs.Path(s"$dir/t"))
    assert(n == dataFiles.length && bytes == dataFiles.map(_.length).sum,
      s"$n files / $bytes bytes vs ${dataFiles.length} / ${dataFiles.map(_.length).sum}")
  }
}
