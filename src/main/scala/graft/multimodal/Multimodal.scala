package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Caching.RegisterSyntax

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, with decode/feature-extract as distributed per-partition
  * stages. The sandbox has no image/audio codecs, so the decode step is
  * a STUB — a deterministic fake (length/md5/first-byte features, fixed
  * "frame" windows) clearly marked below — while everything Spark-side
  * is real: the binary schema, the partition-parallel `mapPartitions`
  * decode shape (one codec init per partition, the JVM analog of a
  * `mapInPandas` batch UDF), frame explosion, and the pushdown-friendly
  * metadata projection.
  *
  * At 100 TB the payload column dominates I/O: metadata-only queries
  * must prune it at the scan (see [[metadataOnly]] — `payload` never
  * appears in its ReadSchema), and decode parallelism follows file
  * splits, not a driver loop.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** The corpus with a binary payload column standing in for encoded
    * media bytes (`text` UTF-8 here; a real pipeline reads
    * `binaryFile` sources or parquet binary columns the same way).
    */
  def withPayload(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(
          col("source").as("origin"),
          col("lang").as("language"),
          col("n_chars").as("declared_len")).as("meta"))

  final case class MediaFeatures(
      doc_id: Long, byte_len: Int, first_byte: Int,
      content_md5: String, n_frames: Int)

  /** Decode/feature-extract over partitions. The body inside the
    * STUB markers is where a codec (JNI image lib, audio decoder)
    * would run, initialized once per partition; the surrounding
    * plumbing — typed Dataset in, typed Dataset out, no collect —
    * is the real contract.
    */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    withPayload(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one expensive "codec" init per partition, not per row
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, bytes) =>
          // ===== STUB decode: deterministic fake features =====
          // real impl: codec.decode(bytes) -> pixels/samples
          val md5hex = digest.digest(bytes).map("%02x".format(_)).mkString
          MediaFeatures(
            doc_id = id,
            byte_len = bytes.length,
            first_byte = if (bytes.isEmpty) -1 else bytes(0) & 0xff,
            content_md5 = md5hex,
            n_frames = (bytes.length + 255) / 256)
          // ===== end STUB =====
        }
      }
  }

  /** Frame sampling: one row per fixed-size payload window — the
    * explode shape a video frame-sampler produces.
    */
  def sampleFrames(spark: SparkSession, dir: String, frameBytes: Int = 256): DataFrame =
    withPayload(spark, dir)
      .withColumn("n_frames",
        ((length(col("payload")) + frameBytes - 1) / frameBytes).cast("int"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, n_frames - 1), " +
          s"i -> substring(payload, i * $frameBytes + 1, $frameBytes))"))
          .as(Seq("frame_idx", "frame_bytes")))

  /** Overlapped windowing — the audio/spectrogram frame shape: windows
    * of `windowBytes` advancing by `hopBytes` (hop < window ⇒
    * overlap). Same Expand-style explode as [[sampleFrames]]; the
    * window count per row is `1 + floor((len - window) / hop)` (plus a
    * tail window when the remainder is non-empty), so output volume
    * scales by window/hop — the knob a 100 TB audio pass sizes
    * against its shuffle budget.
    */
  def sampleWindows(spark: SparkSession, dir: String,
                    windowBytes: Int = 256, hopBytes: Int = 128): DataFrame = {
    require(hopBytes > 0 && windowBytes >= hopBytes,
      s"need 0 < hop <= window, got hop=$hopBytes window=$windowBytes")
    withPayload(spark, dir)
      .withColumn("n_win",
        (greatest(length(col("payload")) - windowBytes, lit(0)) / hopBytes)
          .cast("int") + 1)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, n_win - 1), " +
          s"i -> substring(payload, i * $hopBytes + 1, $windowBytes))"))
          .as(Seq("win_idx", "win_bytes")))
  }

  /** Metadata projection that must never read the payload column. */
  def metadataOnly(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .select(col("doc_id"), col("meta.origin"), col("meta.language"),
        col("meta.declared_len"))

  /** m1 — oracle-checked feature extraction (the SQL-expressible subset
    * of the stub: byte length, md5, first byte, frame count).
    */
  val m1MediaFeatures: Q = (s, dir) =>
    withPayload(s, dir).select(
      col("doc_id"),
      length(col("payload")).as("byte_len"),
      expr("ascii(substring(cast(payload as string), 1, 1))").as("first_byte"),
      md5(col("payload")).as("content_md5"),
      expr("cast((length(payload) + 255) div 256 as bigint)").as("n_frames"))

  val m1MediaFeaturesSql: String = """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           ascii(substr(text, 1, 1)) AS first_byte,
           md5(text) AS content_md5,
           CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
    FROM documents"""

  // =========================================================================
  // m2 — frame-level dedup (shared identical frames across documents)
  // =========================================================================

  /** The video-dedup primitive: two assets sharing byte-identical
    * frames are near-dups even when their containers differ. Frames
    * are hashed (one md5 per frame, the "perceptual hash" slot), hot
    * frames (intros/black frames — df > [[FrameDfCap]]) are dropped,
    * and the frame-hash join yields (doc_a, doc_b, n_shared_frames)
    * — exactly d7's bounded-join shape, one shuffle on frame hash.
    *
    * Oracle parity note: DuckDB 1.0 cannot slice BLOBs, so the
    * oracle-checked query frames the payload by *character* windows
    * (both engines agree on chars and on md5-of-UTF-8); the
    * byte-window flavor is [[sampleFrames]], same plan shape.
    */
  private val FrameChars = 64
  private val FrameDfCap = 20

  val m2FrameDedup: Q = (s, dir) => {
    val frames = Tables.load(s, dir, "documents")
      .withColumn("nf",
        expr(s"greatest(cast((length(text) + $FrameChars - 1) div $FrameChars as int), 1)"))
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, nf - 1), " +
          s"i -> md5(substring(text, i * $FrameChars + 1, $FrameChars)))"))
          .as("fh"))
    val rare = frames.groupBy("fh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= FrameDfCap).select("fh")
    val ff = frames.join(rare, "fh").registerCache()
    ff.as("a").join(ff.as("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
  }

  val m2FrameDedupSql: String = s"""
    WITH f AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, greatest(CAST((length(text) + $FrameChars - 1) // $FrameChars AS INT), 1)),
               i -> md5(substring(text, i * $FrameChars + 1, $FrameChars)))) AS fh
      FROM documents),
    rare AS (SELECT fh FROM f GROUP BY fh HAVING count(*) <= $FrameDfCap),
    ff AS (SELECT f.* FROM f JOIN rare USING (fh))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_frames
    FROM ff a JOIN ff b ON a.fh = b.fh AND a.doc_id < b.doc_id
    GROUP BY 1, 2"""

  // =========================================================================
  // m3 — batched embedding extraction (the batch-inference shape)
  // =========================================================================

  private val EmbDim = 8

  /** The embedding-model pass: payloads → fixed-dim vectors, processed
    * in BATCHES inside each partition — the JVM analog of a
    * `mapInPandas` batch UDF, and the shape a GPU inference stage
    * needs (one model invocation per batch of `batchSize` payloads,
    * bounded memory, no collect). The "model" is a deterministic stub
    * (md5 nibbles → 8 int16-ish dims, marked below); the batching,
    * typing, and partition-parallelism are the real contract.
    *
    * At 100 TB: batch size bounds accelerator memory, partition count
    * bounds concurrency, and the output is exactly the `embeddings`
    * table shape the s-family consumes — this stage is how that table
    * gets BUILT.
    */
  def encodeBatched(spark: SparkSession, dir: String,
                    batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    withPayload(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.grouped(batchSize).flatMap { batch =>
          // ===== STUB model call: one invocation per BATCH =====
          // real impl: model.encode(batch.map(_._2)) -> float matrix
          batch.map { case (id, bytes) =>
            val hex = digest.digest(bytes).map("%02x".format(_)).mkString
            val emb = (0 until EmbDim).map { j =>
              java.lang.Long.parseLong(hex.substring(j * 4, j * 4 + 4), 16)
            }
            (id, emb)
          }
          // ===== end STUB =====
        }
      }
      .toDF("doc_id", "embedding")
  }

  /** m3 — the oracle-checked twin of [[encodeBatched]]: the same stub
    * embedding computed declaratively (md5 is SQL in both engines), so
    * the batched mapPartitions path can be asserted equal to a
    * hash-gated reference (MultimodalSpec does exactly that).
    * Serialized embedding + integer norm — the array cell itself can't
    * hash-compare.
    */
  val m3EmbedPayload: Q = (s, dir) => {
    val nibbles = (0 until EmbDim)
      .map(j => s"cast(conv(substr(md5(payload), ${j * 4 + 1}, 4), 16, 10) as bigint)")
    withPayload(s, dir).select(
      col("doc_id"),
      concat_ws(",", nibbles.map(expr): _*).as("embedding_csv"),
      expr(nibbles.map(n => s"$n * $n").mkString(" + ")).as("norm2"))
  }

  val m3EmbedPayloadSql: String = {
    val nibbles = (0 until EmbDim)
      .map(j => s"(('0x' || substr(md5(text), ${j * 4 + 1}, 4))::BIGINT)")
    s"""SELECT doc_id,
           ${nibbles.map(n => s"CAST($n AS VARCHAR)").mkString(" || ',' || ")} AS embedding_csv,
           CAST(${nibbles.map(n => s"$n * $n").mkString(" + ")} AS BIGINT) AS norm2
    FROM documents"""
  }

  // =========================================================================
  // m4 — resize / downsample to a bounded payload
  // =========================================================================

  private val ResizeTarget = 64

  /** The resize stage: every payload reduced to ≤ [[ResizeTarget]]
    * units by a deterministic STRIDE (keep every ⌈len/target⌉-th
    * element) — the nearest-neighbor-downsample shape, with the codec
    * stubbed the way m1/m3 stub theirs (real impl: decode → resample
    * pixels → re-encode; the stride over payload units stands in for
    * the resample). Char-granular rather than byte-granular for the
    * same DuckDB-blob reason as m2. Zero shuffle, pure map over array
    * HOFs; output carries (orig_len, stride, resized_len, resized) —
    * the metadata a thumbnail tier stores beside the blob. At 100 TB
    * this pass bounds the derived tier's size by |corpus|·target
    * regardless of input skew.
    */
  val m4Resize: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("orig_len"),
        expr(s"cast(ceil(length(text) / $ResizeTarget.0) as bigint)").as("stride"))
      .select(col("doc_id"), col("orig_len"), col("stride"),
        expr(s"""concat_ws('', transform(
            sequence(0, cast((length(text) - 1) / stride as int)),
            i -> substring(text, cast(i * stride + 1 as int), 1)))""").as("resized"))
      .withColumn("resized_len", length(col("resized")).cast("long"))

  val m4ResizeSql: String = s"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS orig_len,
             CAST(ceil(length(text) / $ResizeTarget.0) AS BIGINT) AS stride
      FROM documents)
    SELECT doc_id, orig_len, stride,
           array_to_string(list_transform(
             range(0, CAST((length(text) - 1) // stride AS INT) + 1),
             i -> substring(text, CAST(i * stride + 1 AS INT), 1)), '') AS resized,
           CAST(length(array_to_string(list_transform(
             range(0, CAST((length(text) - 1) // stride AS INT) + 1),
             i -> substring(text, CAST(i * stride + 1 AS INT), 1)), '')) AS BIGINT) AS resized_len
    FROM t"""

  // =========================================================================
  // m5 — modality-balanced batch assembly
  // =========================================================================

  /** Deterministic interleaved batch assembly for multimodal training:
    * each document gets a modality (md5 of its id mod 3 — the opaque
    * stand-in for a real media-type column), and batches are built so
    * every batch holds exactly [[SlotsPerModality]] docs of EACH
    * modality in a fixed slot order — the fixed-ratio batch mix a
    * contrastive or interleaved-modality trainer needs.
    *
    * The per-modality position is computed with [[graft.ops.DistributedRank]]
    * over a single GLOBAL (modality, doc_id) range exchange, then
    * rebased by a 3-row broadcast of per-modality minimum ranks — NOT
    * with `row_number() OVER (PARTITION BY modality)`, which would
    * drag a third of the corpus through one task per modality at
    * scale (the banned single-partition-window shape; the oracle can
    * afford it at sf0.01).
    */
  private val SlotsPerModality = 8

  val m5ModalityBatches: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("""case cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 3
                when 0 then 'image' when 1 then 'audio' else 'text' end""")
          .as("modality"))
    val ranked = graft.ops.DistributedRank.withGlobalRank(docs,
      Seq(col("modality"), col("doc_id")), "gr", "n_total")
    val offsets = ranked.groupBy("modality").agg(min(col("gr")).as("off"))
    ranked.join(broadcast(offsets), "modality")
      .withColumn("slot", col("gr") - col("off"))
      .withColumn("batch_id", expr(s"slot div $SlotsPerModality"))
      .select(col("doc_id"), col("modality"), col("slot"), col("batch_id"))
  }

  val m5ModalityBatchesSql: String = s"""
    WITH d AS (
      SELECT doc_id,
             CASE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 3
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'text' END AS modality
      FROM documents),
    r AS (
      SELECT doc_id, modality,
             row_number() OVER (PARTITION BY modality ORDER BY doc_id) - 1 AS slot
      FROM d)
    SELECT doc_id, modality, slot,
           CAST(slot // $SlotsPerModality AS BIGINT) AS batch_id
    FROM r"""

  // =========================================================================
  // m6 — cross-modal retrieval evaluation (CLIP-style pairing audit)
  // =========================================================================

  /** The retrieval eval a contrastive text↔media encoder pair ships
    * with: for a batch of text queries whose TRUE media partner is
    * known (the caption relation — here doc_id pairs text with its
    * own payload), rank every media embedding by (squared) L2
    * distance to the query embedding and report recall@1 / recall@5
    * of the true partner in basis points. Distance, not raw dot
    * product: an un-normalized dot rewards vector MAGNITUDE and
    * buries the aligned pair (measured: recall@1 fell to ~500 bp);
    * L2 is the metric the noise model actually bounds.
    *
    * Encoders are stubbed the m3 way: the media side IS m3's md5-
    * nibble embedding; the text side simulates a WELL-ALIGNED encoder
    * as the media vector plus bounded per-dim noise (< 64 on 16-bit
    * dims) — so the harness demonstrably rewards alignment (recall
    * lands near 10000 bp) instead of reporting the random-baseline
    * noise an unaligned stub would give (s8's isotropic-fixture
    * lesson, deliberately inverted). Swap the two nibble expressions
    * for real encoder outputs and nothing else changes.
    *
    * Rank is computed WITHOUT materializing a top-k: the true
    * partner's rank = 1 + |{c : score(c) beats score(true)}|, ties
    * broken by doc_id — one count per query, no window, no sort. The
    * query batch is the bounded serving load (a hash bucket here);
    * the corpus side is s1's declared brute-force baseline, and the
    * scale path is swapping the candidate stage for s5/s12's IVF
    * cells exactly as s14 documents.
    */
  val m6CrossmodalRecall: Q = (s, dir) => {
    val dims = 0 until EmbDim
    def nib(hexCol: String, j: Int) =
      s"cast(conv(substr($hexCol, ${j * 4 + 1}, 4), 16, 10) as bigint)"
    // md5 is materialized ONCE per row into a hex column and the dims
    // slice nibbles off that string; inlining the md5 chain into all
    // 16 dim expressions ballooned the generated code until Janino
    // compilation dominated the query (measured: 6.4 s cold vs 0.7 s
    // warm — a 5 s codegen bill). CollapseProject keeps the split
    // because md5 is non-cheap. Flat per-dim columns, not arrays: the
    // hot cross-join loop codegens to plain long arithmetic.
    // loadParallel, not withPayload's plain load: the corpus side
    // STREAMS through the nested-loop join, and a single-row-group
    // test file would put the whole |q|×|corpus| cross on one task
    val media = Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id").as("c_id"),
        md5(col("text").cast("binary")).as("hm"))
      .select(col("c_id") +:
        dims.map(j => expr(nib("hm", j)).as(s"e$j")): _*)
    // the true pair's distance is KNOWN on the query side — it is the
    // injected noise's own norm, Σ noise_j² — so the truth branch
    // needs no second corpus cross
    val queriesDf = withPayload(s, dir)
      .filter(expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint) % 100 < 10"))
      .select(col("doc_id").as("q_id"), md5(col("payload")).as("hm"),
        md5(concat(lit("q"), col("doc_id").cast("string"))).as("hn"))
      .select(col("q_id") +:
        dims.map(j => expr(s"${nib("hm", j)} + ${nib("hn", j)} % 64").as(s"t$j")) :+
        expr(dims.map { j =>
          val n = s"(${nib("hn", j)} % 64)"
          s"$n * $n"
        }.mkString(" + ")).as("true_dist2"): _*)
    val scored = broadcast(queriesDf).crossJoin(media)
      .select(col("q_id"), col("c_id"), col("true_dist2"),
        expr(dims.map(j => s"(t$j - e$j) * (t$j - e$j)").mkString(" + ")).as("dist2"))
    val ranks = scored
      .groupBy("q_id")
      .agg((sum(when(col("dist2") < col("true_dist2") ||
          (col("dist2") === col("true_dist2") && col("c_id") < col("q_id")), 1L)
        .otherwise(0L)) + 1L).as("rank"))
    ranks.agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("rank") === 1, 1L).otherwise(0L)).as("hits1"),
        sum(when(col("rank") <= 5, 1L).otherwise(0L)).as("hits5"))
      .select(col("n_queries"),
        expr("hits1 * 10000 div n_queries").as("recall1_bp"),
        expr("hits5 * 10000 div n_queries").as("recall5_bp"))
  }

  val m6CrossmodalRecallSql: String = {
    val dims = 0 until EmbDim
    def nib(src: String, j: Int) =
      s"(('0x' || substr(md5($src), ${j * 4 + 1}, 4))::BIGINT)"
    val em = dims.map(j => s"${nib("text", j)} AS e$j").mkString(", ")
    val tq = dims.map(j =>
      s"${nib("text", j)} + ${nib("'q' || CAST(doc_id AS VARCHAR)", j)} % 64 AS t$j").mkString(", ")
    val td = dims.map { j =>
      val n = s"(${nib("'q' || CAST(doc_id AS VARCHAR)", j)} % 64)"
      s"$n * $n"
    }.mkString(" + ")
    val dot = dims.map(j => s"(q.t$j - m.e$j) * (q.t$j - m.e$j)").mkString(" + ")
    s"""
    WITH media AS (SELECT doc_id AS c_id, $em FROM documents),
    qs AS (
      SELECT doc_id AS q_id, $tq, $td AS true_dist2 FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 10),
    scored AS (
      SELECT q_id, c_id, true_dist2, $dot AS dist2
      FROM qs q CROSS JOIN media m),
    ranks AS (
      SELECT q_id,
             1 + CAST(SUM(CASE WHEN dist2 < true_dist2
                          OR (dist2 = true_dist2 AND c_id < q_id)
                          THEN 1 ELSE 0 END) AS BIGINT) AS rank
      FROM scored GROUP BY q_id)
    SELECT count(*) AS n_queries,
           CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // count(*) AS recall1_bp,
           CAST(SUM(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // count(*) AS recall5_bp
    FROM ranks"""
  }


  /** m7 — the PRODUCTION twin of m6 (round-7 verdict #9): the same
    * cross-modal eval served through an IVF candidate stage instead
    * of the brute-force query×corpus cross. Centroids are elected
    * from the media vectors exactly as s5 elects them from the
    * embeddings table (`id % CellMod`, here the media doc ids); the
    * corpus assigns once to its nearest cell (L2, ties to the smaller
    * centroid id), each query probes its TWO nearest cells (s6's
    * nprobe knob), and ranks are computed over the probed candidates
    * only. `coverage_bp` is the honesty column — the fraction of
    * queries whose TRUE partner sits in a probed cell, i.e. the hard
    * ceiling IVF puts on recall — and m6's exhaustive scan remains
    * the declared exact denominator (the same baseline→production
    * split as s1/s9 → s5/s12 and d5 → d7).
    *
    * Scale shape: the two centroid crosses are s5's bounded
    * |rows|×|cells| assignment shape (broadcast centroids, map-side
    * combine collapses to the row grain before any exchange); the
    * candidate join is cell-keyed — |q|·nprobe·cell-size rows, LINEAR
    * in the corpus at fixed fan-out where m6's eval cross is
    * |q|×|corpus|. All-integer arithmetic end-to-end (the md5-nibble
    * space), so the IVF serve itself is hash-gate exact.
    */
  private val CellMod = 125
  val m7CrossmodalIvf: Q = (s, dir) => {
    val dims = 0 until EmbDim
    def nib(hexCol: String, j: Int) =
      s"cast(conv(substr($hexCol, ${j * 4 + 1}, 4), 16, 10) as bigint)"
    val media = Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id").as("c_id"),
        md5(col("text").cast("binary")).as("hm"))
      .select(col("c_id") +:
        dims.map(j => expr(nib("hm", j)).as(s"e$j")): _*)
    val cents = media.filter(col("c_id") % CellMod === 0)
      .select(col("c_id").as("k_id") +: dims.map(j => col(s"e$j").as(s"k$j")): _*)
    // one pass elects each row's cell: min(struct(dist, k_id)) is the
    // deterministic argmin (ties to the smaller centroid id), and the
    // partial aggregate collapses the ×|cells| fan-out map-side
    val kd = dims.map(j => s"(e$j - k$j) * (e$j - k$j)").mkString(" + ")
    val cells = media.crossJoin(broadcast(cents))
      .withColumn("kd", expr(kd))
      .groupBy("c_id")
      .agg(min(struct(col("kd"), col("k_id"))).as("mk"))
      .select(col("c_id"), col("mk.k_id").as("cell"))
    val postings = media.join(cells, "c_id")
    val queriesDf = withPayload(s, dir)
      .filter(expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint) % 100 < 10"))
      .select(col("doc_id").as("q_id"), md5(col("payload")).as("hm"),
        md5(concat(lit("q"), col("doc_id").cast("string"))).as("hn"))
      .select(col("q_id") +:
        dims.map(j => expr(s"${nib("hm", j)} + ${nib("hn", j)} % 64").as(s"t$j")) :+
        expr(dims.map { j =>
          val n = s"(${nib("hn", j)} % 64)"
          s"$n * $n"
        }.mkString(" + ")).as("true_dist2"): _*)
    val qdExpr = dims.map(j => s"(t$j - k$j) * (t$j - k$j)").mkString(" + ")
    val wProbe = Window.partitionBy("q_id").orderBy(col("qd"), col("k_id"))
    val probes = queriesDf.crossJoin(broadcast(cents))
      .withColumn("qd", expr(qdExpr))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("k_id").as("cell"))
    val dist = dims.map(j => s"(t$j - e$j) * (t$j - e$j)").mkString(" + ")
    // covered = the true partner (c_id == q_id) appeared among the
    // candidates at all; a probed cell is never empty (each centroid
    // assigns to itself at distance 0), so every query emits a group
    val perQ = probes.join(postings, Seq("cell"))
      .join(broadcast(queriesDf), Seq("q_id"))
      .withColumn("dist2", expr(dist))
      .groupBy("q_id")
      .agg((sum(when(col("dist2") < col("true_dist2") ||
          (col("dist2") === col("true_dist2") && col("c_id") < col("q_id")), 1L)
        .otherwise(0L)) + 1L).as("rnk"),
        max(when(col("c_id") === col("q_id"), 1L).otherwise(0L)).as("covered"))
    perQ.agg(
        count(lit(1)).as("n_queries"),
        sum(col("covered")).as("covered_q"),
        sum(when(col("covered") === 1 && col("rnk") === 1, 1L).otherwise(0L)).as("hits1"),
        sum(when(col("covered") === 1 && col("rnk") <= 5, 1L).otherwise(0L)).as("hits5"))
      .select(col("n_queries"), col("covered_q"),
        expr("covered_q * 10000 div n_queries").as("coverage_bp"),
        expr("hits1 * 10000 div n_queries").as("recall1_bp"),
        expr("hits5 * 10000 div n_queries").as("recall5_bp"))
  }

  val m7CrossmodalIvfSql: String = {
    val dims = 0 until EmbDim
    def nib(src: String, j: Int) =
      s"(('0x' || substr(md5($src), ${j * 4 + 1}, 4))::BIGINT)"
    val em = dims.map(j => s"${nib("text", j)} AS e$j").mkString(", ")
    val tq = dims.map(j =>
      s"${nib("text", j)} + ${nib("'q' || CAST(doc_id AS VARCHAR)", j)} % 64 AS t$j").mkString(", ")
    val td = dims.map { j =>
      val n = s"(${nib("'q' || CAST(doc_id AS VARCHAR)", j)} % 64)"
      s"$n * $n"
    }.mkString(" + ")
    val ks = dims.map(j => s"e$j AS k$j").mkString(", ")
    val kd = dims.map(j => s"(m.e$j - c.k$j) * (m.e$j - c.k$j)").mkString(" + ")
    val qd = dims.map(j => s"(q.t$j - c.k$j) * (q.t$j - c.k$j)").mkString(" + ")
    val dd = dims.map(j => s"(q.t$j - p.e$j) * (q.t$j - p.e$j)").mkString(" + ")
    s"""
    WITH media AS (SELECT doc_id AS c_id, $em FROM documents),
    cents AS (SELECT c_id AS k_id, $ks FROM media WHERE c_id % $CellMod = 0),
    cells AS (
      SELECT c_id, k_id AS cell FROM (
        SELECT m.c_id, c.k_id,
               row_number() OVER (PARTITION BY m.c_id
                                  ORDER BY $kd, c.k_id) AS rn
        FROM media m CROSS JOIN cents c) WHERE rn = 1),
    postings AS (SELECT media.*, cells.cell FROM media JOIN cells USING (c_id)),
    qs AS (
      SELECT doc_id AS q_id, $tq, $td AS true_dist2 FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 10),
    pr AS (
      SELECT q_id, k_id AS cell FROM (
        SELECT q.q_id, c.k_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY $qd, c.k_id) AS rn
        FROM qs q CROSS JOIN cents c) WHERE rn <= 2),
    cand AS (
      SELECT q.q_id, p.c_id, q.true_dist2, $dd AS dist2
      FROM pr JOIN postings p USING (cell) JOIN qs q USING (q_id)),
    perq AS (
      SELECT q_id,
             1 + CAST(SUM(CASE WHEN dist2 < true_dist2
                          OR (dist2 = true_dist2 AND c_id < q_id)
                          THEN 1 ELSE 0 END) AS BIGINT) AS rnk,
             CAST(MAX(CASE WHEN c_id = q_id THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM cand GROUP BY q_id)
    SELECT count(*) AS n_queries,
           CAST(SUM(covered) AS BIGINT) AS covered_q,
           CAST(SUM(covered) AS BIGINT) * 10000 // count(*) AS coverage_bp,
           CAST(SUM(CASE WHEN covered = 1 AND rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 10000 // count(*) AS recall1_bp,
           CAST(SUM(CASE WHEN covered = 1 AND rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
             * 10000 // count(*) AS recall5_bp
    FROM perq"""
  }

  // -------------------------------------------------------------------------
  // m7 served from a persisted AnnIndex (round-8 verdict #4)
  // -------------------------------------------------------------------------

  /** The media corpus in `sim/AnnIndex`'s quantized shape `(vec_id,
    * label, qv, n2)` — the same md5-nibble vectors m7 builds inline,
    * as int64 arrays with their squared norms, so the index's exact
    * integer L2 (`n2a + n2b − 2·dot`) reproduces m7's Σ(e−t)²
    * bit-for-bit. Centroid election is shared by construction: both
    * use id % 125. */
  def m7MediaQuantized(s: SparkSession, dir: String): DataFrame =
    m7MediaQuantizedOf(Tables.loadParallel(s, dir, "documents"))

  /** The per-doc media-vector map over an explicit `documents`-shaped
    * frame — what the index merge runs on just the delta files. */
  def m7MediaQuantizedOf(docs: DataFrame): DataFrame = {
    def nib(j: Int) = s"cast(conv(substr(hm, ${j * 4 + 1}, 4), 16, 10) as bigint)"
    docs
      .select(col("doc_id").as("vec_id"),
        md5(col("text").cast("binary")).as("hm"))
      .select(col("vec_id"), col("vec_id").cast("string").as("label"),
        array((0 until EmbDim).map(j => expr(nib(j))): _*).as("qv"))
      .withColumn("n2", expr("aggregate(qv, cast(0 as bigint), (a, x) -> a + x * x)"))
  }

  /** m7's query batch in the index's shape: `(query_id, qv, n2,
    * true_dist2)` — the 10% doc sample with its noised text vector
    * and the known true distance to its media partner. */
  def m7QueriesQuantized(s: SparkSession, dir: String): DataFrame = {
    def nibc(c: String, j: Int) =
      s"cast(conv(substr($c, ${j * 4 + 1}, 4), 16, 10) as bigint)"
    val dims = 0 until EmbDim
    withPayload(s, dir)
      .filter(expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint) % 100 < 10"))
      .select(col("doc_id").as("query_id"), md5(col("payload")).as("hm"),
        md5(concat(lit("q"), col("doc_id").cast("string"))).as("hn"))
      .select(col("query_id"),
        array(dims.map(j => expr(s"${nibc("hm", j)} + ${nibc("hn", j)} % 64")): _*).as("qv"),
        expr(dims.map { j =>
          val n = s"(${nibc("hn", j)} % 64)"
          s"$n * $n"
        }.mkString(" + ")).as("true_dist2"))
      .withColumn("n2", expr("aggregate(qv, cast(0 as bigint), (a, x) -> a + x * x)"))
  }

  /** m7's aggregate served from a persisted L2 `sim/AnnIndex` over
    * [[m7MediaQuantized]] — the inline-as-oracle / store-as-production
    * split ClusterStore executed, applied to the media space: the
    * candidate stage reads the stored centroids/postings (cell-pruned
    * directories) instead of electing centroids and assigning the
    * corpus per run. Output schema equals m7's registry output;
    * `MultimodalSpec` pins row equality served-vs-inline. */
  def m7ServedFrom(s: SparkSession, dir: String, indexDir: String): DataFrame = {
    val qs = m7QueriesQuantized(s, dir)
    val cand = graft.sim.AnnIndex.candidates(s, indexDir,
      qs.select("query_id", "qv", "n2"), nprobe = 2)
    val perQ = cand
      .join(broadcast(qs.select(col("query_id"), col("true_dist2"))), Seq("query_id"))
      .groupBy("query_id")
      .agg((sum(when(col("dist2") < col("true_dist2") ||
          (col("dist2") === col("true_dist2") && col("vec_id") < col("query_id")), 1L)
        .otherwise(0L)) + 1L).as("rnk"),
        max(when(col("vec_id") === col("query_id"), 1L).otherwise(0L)).as("covered"))
    perQ.agg(
        count(lit(1)).as("n_queries"),
        sum(col("covered")).as("covered_q"),
        sum(when(col("covered") === 1 && col("rnk") === 1, 1L).otherwise(0L)).as("hits1"),
        sum(when(col("covered") === 1 && col("rnk") <= 5, 1L).otherwise(0L)).as("hits5"))
      .select(col("n_queries"), col("covered_q"),
        expr("covered_q * 10000 div n_queries").as("coverage_bp"),
        expr("hits1 * 10000 div n_queries").as("recall1_bp"),
        expr("hits5 * 10000 div n_queries").as("recall5_bp"))
  }

  /** Snapshot-keyed media index: the L2 `sim/AnnIndex` over
    * [[m7MediaQuantized]], built once per `documents` snapshot through
    * `DerivedStore.servedDir`'s fingerprint/OCC protocol — the same
    * freshness contract every other standing tier carries (GraphStore,
    * ClusterStore, BandIndexStore.corpusIndex). A regenerated corpus
    * rebuilds the index instead of silently serving stale postings. */
  def m7Index(s: SparkSession, dir: String): String =
    graft.io.DerivedStore.servedDir(s, dir, "media_ann", Seq("documents"),
      Some(m7IndexMerge)) { (s2, d, p) =>
      graft.sim.AnnIndex.buildFrom(m7MediaQuantized(s2, d), p,
        graft.sim.AnnMetric.L2)
    }

  private val m7IndexMerge: graft.io.DerivedStore.DirMerge =
    (s2, d, staging, deltas) =>
      // the append-only fast path: media vectors are a pure per-doc
      // map, centroid election is the id rule, so a delta with no
      // centroid-eligible (or re-ingested) ids appends into the copied
      // postings EXACTLY as a rebuild over the grown corpus would
      // assign it (AnnIndexSpec's append==rebuild pin); the touched
      // cells compact back to target-sized files in place. Any guard
      // trip routes to the full rebuild.
      deltas.getOrElse("documents", Seq.empty) match {
        case Seq() => true // nothing new: the byte-copy IS the next version
        case paths =>
          // persisted: the guard's two probes and the append would
          // otherwise each re-run the md5/nibble map over the delta
          val deltaVecs = graft.core.Caching.register(m7MediaQuantizedOf(
            Tables.loadFiles(s2, d, "documents", paths)))
          graft.sim.AnnIndex.canAppend(s2, staging, deltaVecs) && {
            graft.sim.AnnIndex.append(s2, staging, deltaVecs)
            graft.io.Compaction.compactPartitions(
              s2, s"$staging/postings", "cell"): Unit
            true
          }
      }

  /** Registry m7: SERVED from the snapshot-keyed index — the
    * store-as-production side of the split ([[m7CrossmodalIvf]] stays
    * the inline ground truth the spec compares against, and the DuckDB
    * oracle recomputes the whole eval independently, so the hash gate
    * proves store-served == inline every Verify run — the same
    * transitive check the g-family rides). */
  val m7Served: Q = (s, dir) => m7ServedFrom(s, dir, m7Index(s, dir))

  val queries: Map[String, Q] = Map(
    "m7_crossmodal_ivf" -> m7Served,
    "m6_crossmodal_recall" -> m6CrossmodalRecall,
    "m5_modality_batches" -> m5ModalityBatches,
    "m1_media_features" -> m1MediaFeatures,
    "m2_frame_dedup"    -> m2FrameDedup,
    "m3_embed_payload"  -> m3EmbedPayload,
    "m4_resize"         -> m4Resize)
  val oracleSql: Map[String, String] = Map(
    "m7_crossmodal_ivf" -> m7CrossmodalIvfSql,
    "m6_crossmodal_recall" -> m6CrossmodalRecallSql,
    "m5_modality_batches" -> m5ModalityBatchesSql,
    "m1_media_features" -> m1MediaFeaturesSql,
    "m2_frame_dedup"    -> m2FrameDedupSql,
    "m3_embed_payload"  -> m3EmbedPayloadSql,
    "m4_resize"         -> m4ResizeSql)
}
