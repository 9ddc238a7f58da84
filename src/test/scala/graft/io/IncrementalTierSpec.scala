package graft.io

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The append-only incremental-refresh path (`DerivedStore.Refresh
  * .Merge` + `GraphStore.purchaseEdgesMerge`): file-grain
  * drift classification routes daily part-file arrivals to the merge
  * callback — and the merged version must be row-identical to what a
  * full rebuild over the grown sources produces. Non-append drift
  * (an existing file touched) must still take the full build.
  *
  * Sources here are DIRECTORY-layout parquet (part files + _SUCCESS),
  * the production shape; the sf testdata's single-file tables always
  * classify as rewrite-on-change, which is the conservative fallback.
  */
class IncrementalTierSpec extends SparkSpec {

  /** Copy every DATA part file of `from` (a directory-layout parquet
    * write) into table dir `into` — the warehouse's append: new
    * immutable files landing next to untouched old ones. */
  private def appendParts(from: String, into: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(into)
    Files.list(src).forEach { f: JPath =>
      val n = f.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith("."))
        Files.move(f, dst.resolve(n)): Unit
    }
  }

  private def writeTable(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def edges(dir: String): Set[(Long, Long, Long, Long)] =
    GraphStore.purchaseEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def inlineEdges(dir: String): Set[(Long, Long, Long, Long)] =
    GraphStore.purchaseEdgesInline(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("append-only drift takes the merge path and equals a full rebuild; rewrite drift rebuilds") {
    val dir = tmpDir("incr-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-store")
    try {
      val orders = Tables.load(spark, sfDir, "orders").cache()
      val li = Tables.load(spark, sfDir, "lineitem").cache()
      // FK-consistent halves: an order and ALL its lineitems land in
      // the same batch (lineitems split by their order's key)
      val firstO = orders.filter(col("o_orderkey") % 2 === 0)
      val laterO = orders.filter(col("o_orderkey") % 2 =!= 0)
      val firstLi = li.filter(col("l_orderkey") % 2 === 0)
      val laterLi = li.filter(col("l_orderkey") % 2 =!= 0)

      writeTable(firstO, dir, "orders")
      writeTable(firstLi, dir, "lineitem")
      var snap = new TierSnapshot(spark)
      assert(edges(dir) == inlineEdges(dir))
      assert(snap.modeOf(dir, "purchase").contains("full"), "first serve is a full build")
      val store = DerivedStore.storePath(dir, "purchase")
      assert(AtomicPublish.currentVersion(spark, store).contains(1L))

      // day 2: both tables grow by new part files only
      val stage = tmpDir("incr-delta")
      laterO.coalesce(1).write.parquet(s"$stage/o")
      laterLi.coalesce(1).write.parquet(s"$stage/li")
      appendParts(s"$stage/o", s"$dir/orders.parquet")
      appendParts(s"$stage/li", s"$dir/lineitem.parquet")
      snap = new TierSnapshot(spark)
      val merged = edges(dir)
      assert(snap.modeOf(dir, "purchase").contains("merge"), "append-only drift must take the merge path")
      assert(AtomicPublish.currentVersion(spark, store).contains(2L))
      assert(merged == inlineEdges(dir),
        "merged tier must be row-identical to a full rebuild over the grown sources")
      snap = new TierSnapshot(spark)
      assert(edges(dir) == merged && snap.published.isEmpty, "fresh serve must not rebuild")

      // day 3: orders-only growth (their lineitems not landed yet) —
      // merge path, zero new edges
      val extraO = laterO.limit(50)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      extraO.coalesce(1).write.parquet(s"$stage/o3")
      appendParts(s"$stage/o3", s"$dir/orders.parquet")
      snap = new TierSnapshot(spark)
      assert(edges(dir) == merged, "orders without lineitems add no edges")
      assert(snap.modeOf(dir, "purchase").contains("merge"))

      // rewrite drift: touch an existing data file -> full rebuild
      val aPart = Files.list(Paths.get(s"$dir/orders.parquet")).toArray
        .map(_.asInstanceOf[JPath])
        .find(p => !p.getFileName.toString.startsWith("_") &&
                   !p.getFileName.toString.startsWith(".")).get
      Files.setLastModifiedTime(aPart,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(aPart).toMillis + 5000)): Unit
      snap = new TierSnapshot(spark)
      assert(edges(dir) == merged)
      assert(snap.modeOf(dir, "purchase").contains("full"), "non-append drift must take the full build")
      orders.unpersist(); li.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("band index and LSH components compose incrementally and equal the full rebuild") {
    val dir = tmpDir("incr-docs")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-docs-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      // doc_id-parity halves: day 1 evens, day 2's arrivals odd
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")

      def bands(d: String): Set[(Long, Int, String)] =
        graft.dedup.BandIndexStore.corpusIndex(spark, d).collect()
          .map(r => (r.getAs[Number]("doc_id").longValue, r.getAs[Number]("band_idx").intValue,
            r.getAs[String]("band_hash"))).toSet
      def clusters(d: String): Set[(Long, Long)] =
        graft.dedup.ClusterStore.lshComponents(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      def inlineClusters(d: String): Set[(Long, Long)] =
        graft.dedup.ClusterStore.lshComponentsInline(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet

      var snap = new TierSnapshot(spark)
      val b1 = bands(dir)
      assert(snap.modeOf(dir, "band_index").contains("full") && b1.nonEmpty)
      val c1 = clusters(dir)
      assert(snap.modeOf(dir, "lsh_components").contains("full"))
      assert(c1 == inlineClusters(dir))

      // day 2: odd docs land as a new part file
      val stage = tmpDir("incr-docs-delta")
      docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      // NO manual cache drop here: the d3 pipeline registered cached
      // frames pinned to the PRE-APPEND file snapshot, and the serve
      // itself must drop them on drift (DerivedStore.dropPinnedPlans)
      // — this test ran stale-inline before that was automatic

      // serve the band tier first so the components merge probes an
      // already-fresh index (and its own mode is observable)
      snap = new TierSnapshot(spark)
      val b2 = bands(dir)
      assert(snap.modeOf(dir, "band_index").contains("merge"), "band index must refresh incrementally")
      assert(b1.subsetOf(b2) && b2.size > b1.size,
        "delta docs' bands appended beside the old ones")

      snap = new TierSnapshot(spark)
      val c2 = clusters(dir)
      assert(snap.modeOf(dir, "lsh_components").contains("merge"), "components must refresh via the contracted merge")
      assert(c2 == inlineClusters(dir),
        "incremental components must equal the full rebuild over the grown corpus")
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("the merge callback receives exactly the appended files, nothing from history") {
    val dir = tmpDir("incr-rec")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-rec-store")
    try {
      val nation = Tables.load(spark, sfDir, "nation").select("n_nationkey")
      writeTable(nation.filter(col("n_nationkey") < 10), dir, "nation")
      var seen: Option[Map[String, Seq[String]]] = None
      def serve(): Long = DerivedStore.served(spark, dir, "rec",
        Seq("nation"), (s, d) => Tables.load(s, d, "nation").select("n_nationkey"),
        DerivedStore.Refresh.Merge((s, _, prev, deltas) => {
          seen = Some(deltas)
          prev.unionByName(s.read.parquet(deltas("nation"): _*).select("n_nationkey"))
        }), numFiles = 1, sortKey = "n_nationkey").count()

      assert(serve() == 10 && seen.isEmpty, "full build must not call the merge")
      val stage = tmpDir("incr-rec-delta")
      nation.filter(col("n_nationkey") >= 10).coalesce(1).write.parquet(s"$stage/n")
      val deltaNames = Files.list(Paths.get(s"$stage/n")).toArray
        .map(_.asInstanceOf[JPath].getFileName.toString)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
      appendParts(s"$stage/n", s"$dir/nation.parquet")
      assert(serve() == 25)
      val got = seen.getOrElse(fail("merge not called on append-only drift"))
      assert(got.keySet == Set("nation"))
      assert(got("nation").map(p => p.substring(p.lastIndexOf('/') + 1)).toSet == deltaNames,
        "delta file list must be exactly the appended files — history never re-enters the merge")
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("token tier refreshes incrementally under append-only corpus growth") {
    val dir = tmpDir("incr-tok")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-tok-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")
      def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
        df.collect().map(_.toString).groupBy(identity).view.mapValues(_.size).toMap
      var snap = new TierSnapshot(spark)
      val t1 = graft.text.TokenStore.served(spark, dir).count()
      assert(snap.modeOf(dir, "tokens").contains("full") && t1 > 0)

      val stage = tmpDir("incr-tok-delta")
      docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      snap = new TierSnapshot(spark)
      val served = graft.text.TokenStore.served(spark, dir)
      assert(snap.modeOf(dir, "tokens").contains("merge"), "append-only drift must delta-tokenize")
      assert(multiset(served) ==
        multiset(graft.text.TokenStore.tokens(spark, dir)),
        "merged token tier must equal a full re-tokenize of the grown corpus")
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("shingle tier refreshes incrementally under append-only corpus growth") {
    val dir = tmpDir("incr-sh")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-sh-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")
      var snap = new TierSnapshot(spark)
      val n1 = graft.dedup.ShingleStore.served(spark, dir).count()
      assert(snap.modeOf(dir, "shingles").contains("full") && n1 > 0)

      val stage = tmpDir("incr-sh-delta")
      docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      snap = new TierSnapshot(spark)
      val served = graft.dedup.ShingleStore.served(spark, dir)
      assert(snap.modeOf(dir, "shingles").contains("merge"), "append-only drift must delta-shingle")
      val inline = graft.dedup.ShingleStore.artifacts(spark, dir)
      assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty,
        "merged shingle tier must equal a full re-shingle of the grown corpus")
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("a re-ingested existing doc_id in a delta file falls back to the full band build") {
    val dir = tmpDir("incr-reingest")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-reingest-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")
      val snap = new TierSnapshot(spark)
      val b1 = graft.dedup.BandIndexStore.corpusIndex(spark, dir).count()
      assert(snap.modeOf(dir, "band_index").contains("full"))

      // the delta re-ingests docs ALREADY in the corpus (plus new
      // ones) as a new part file — file-grain drift says AppendOnly,
      // but the merge's key guard must detect the overlap and route
      // to the full build, so the tier stays EXACTLY what a rebuild
      // over the (now-dirty) table produces — multiset-compared, so
      // any extra or missing duplicate band row diverges
      val stage = tmpDir("incr-reingest-delta")
      docs.filter(col("doc_id") % 4 === 0 || col("doc_id") % 2 =!= 0)
        .coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
        df.collect().map(_.toString).groupBy(identity).view.mapValues(_.size).toMap
      val served = graft.dedup.BandIndexStore.corpusIndex(spark, dir)
      val inline = graft.dedup.BandIndexStore.bandKeys(
        Tables.load(spark, dir, "documents"))
      assert(multiset(served) == multiset(inline),
        "overlapping delta must serve exactly the rebuild's rows")
      assert(served.count() > b1)
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("a delta order referenced by pre-delta lineitems (FK violation) falls back to the full edge build") {
    val dir = tmpDir("incr-fk")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-fk-store")
    try {
      val orders = Tables.load(spark, sfDir, "orders").cache()
      val li = Tables.load(spark, sfDir, "lineitem").cache()
      // day 1 violates the same-batch FK invariant silently: the odd
      // orders' lineitems land WITHOUT their orders
      writeTable(orders.filter(col("o_orderkey") % 2 === 0), dir, "orders")
      writeTable(li, dir, "lineitem")
      var snap = new TierSnapshot(spark)
      edges(dir): Unit
      assert(snap.modeOf(dir, "purchase").contains("full"))

      // day 2: the missing orders arrive as an orders-only delta — an
      // unguarded merge would return prev (lineitem deltas = none) and
      // permanently miss every odd order's edges
      val stage = tmpDir("incr-fk-delta")
      orders.filter(col("o_orderkey") % 2 =!= 0).coalesce(1)
        .write.parquet(s"$stage/o")
      appendParts(s"$stage/o", s"$dir/orders.parquet")
      snap = new TierSnapshot(spark)
      val after = edges(dir)
      assert(snap.modeOf(dir, "purchase").contains("merge"),
        "the drift still routes through the merge callback")
      assert(after == inlineEdges(dir),
        "FK-violating orders delta must produce the rebuild's edges, not prev's")
      orders.unpersist(); li.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("a delta order arriving WITH one of its lineitems still probes history (coverage is not exclusivity)") {
    val dir = tmpDir("incr-fkcov")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-fkcov-store")
    try {
      val orders = Tables.load(spark, sfDir, "orders").cache()
      val li = Tables.load(spark, sfDir, "lineitem").cache()
      // synthetic order 20000000: TWO of its lineitems (suppliers 1, 2)
      // land on day 1 WITHOUT the order — the silent early-lineitem FK
      // violation. Day 1 builds no edges for it (the order is absent).
      val okT = li.schema("l_orderkey").dataType
      val spT = li.schema("l_suppkey").dataType
      val base = li.limit(1).cache()
      def synthLi(supp: Long) = base
        .withColumn("l_orderkey", lit(20000000L).cast(okT))
        .withColumn("l_suppkey", lit(supp).cast(spT))
      writeTable(orders, dir, "orders")
      writeTable(li.unionByName(synthLi(1)).unionByName(synthLi(2)), dir, "lineitem")
      var snap = new TierSnapshot(spark)
      val before = edges(dir)
      assert(snap.modeOf(dir, "purchase").contains("full"))
      assert(!before.exists(_._1 == 999999L), "orphan lineitems build no edges")

      // day 2: the order arrives TOGETHER WITH one more of its own
      // lineitems (supplier 3). The delta lineitem COVERS the delta
      // order key, so a coverage-based guard would skip the history
      // probe, merge, and permanently miss the supplier-1/2 edges the
      // day-1 lineitems imply — the r10-advice unsoundness. The sound
      // guard probes history with ALL delta order keys and must route
      // this batch to the full rebuild.
      val stage = tmpDir("incr-fkcov-delta")
      orders.limit(1)
        .withColumn("o_orderkey", lit(20000000L).cast(orders.schema("o_orderkey").dataType))
        .withColumn("o_custkey", lit(999999L).cast(orders.schema("o_custkey").dataType))
        .coalesce(1).write.parquet(s"$stage/o")
      synthLi(3).coalesce(1).write.parquet(s"$stage/li")
      appendParts(s"$stage/o", s"$dir/orders.parquet")
      appendParts(s"$stage/li", s"$dir/lineitem.parquet")
      snap = new TierSnapshot(spark)
      val after = edges(dir)
      assert(snap.modeOf(dir, "purchase").contains("merge"),
        "the drift still routes through the merge callback")
      assert(after == inlineEdges(dir),
        "covered-but-history-referenced delta order must produce the rebuild's edges")
      val off = graft.graph.Graph.SuppOffset
      assert(Seq(1L, 2L, 3L).forall(sp =>
        after.exists(e => e._1 == 999999L && e._2 == sp + off)),
        "the early lineitems' edges must all be present")
      orders.unpersist(); li.unpersist(); base.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("media ANN dir tier: eligible append-only drift MERGES (append==rebuild), guard trip rebuilds") {
    val dir = tmpDir("incr-ann")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-ann-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      // day 1 carries every centroid-eligible id (vec_id % 125 == 0 ⊂
      // doc_id % 5 == 0), so day 2's delta is append-eligible
      writeTable(docs.filter(col("doc_id") % 5 === 0), dir, "documents")
      var snap = new TierSnapshot(spark)
      val p1 = graft.multimodal.Multimodal.m7Index(spark, dir)
      assert(p1.endsWith("v=1") && snap.modeOf(dir, "media_ann").contains("full"))
      val n1 = spark.read.parquet(s"$p1/postings").count()
      snap = new TierSnapshot(spark)
      assert(graft.multimodal.Multimodal.m7Index(spark, dir) == p1 && snap.published.isEmpty,
        "fresh serve must not rebuild the index")

      // day 2: non-eligible docs land -> the copied-version + append
      // merge, row-identical to a rebuild over the grown corpus
      val stage = tmpDir("incr-ann-delta")
      docs.filter(col("doc_id") % 5 =!= 0).coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      snap = new TierSnapshot(spark)
      val p2 = graft.multimodal.Multimodal.m7Index(spark, dir)
      assert(p2.endsWith("v=2") && snap.modeOf(dir, "media_ann").contains("merge"),
        "eligible append-only drift must take the dir merge")
      val rebuilt = tmpDir("incr-ann-rebuild") + "/idx"
      graft.sim.AnnIndex.buildFrom(
        graft.multimodal.Multimodal.m7MediaQuantized(spark, dir), rebuilt,
        graft.sim.AnnMetric.L2)
      def postings(p: String): Set[(Long, Long)] =
        spark.read.parquet(s"$p/postings").collect()
          .map(r => (r.getAs[Number]("vec_id").longValue,
            r.getAs[Number]("cell").longValue)).toSet
      assert(postings(p2) == postings(rebuilt),
        "merged index must assign exactly what a rebuild over the grown corpus does")
      assert(spark.read.parquet(s"$p2/postings").count() > n1)

      // day 3: a delta carrying a centroid-eligible id (doc_id=0 shape
      // is taken; synthesize one at 125k) must trip the guard -> full
      val extra = docs.filter(col("doc_id") % 5 =!= 0).limit(1)
        .withColumn("doc_id", lit(125000L))
      extra.coalesce(1).write.parquet(s"$stage/d3")
      appendParts(s"$stage/d3", s"$dir/documents.parquet")
      snap = new TierSnapshot(spark)
      val p3 = graft.multimodal.Multimodal.m7Index(spark, dir)
      assert(p3.endsWith("v=3") && snap.modeOf(dir, "media_ann").contains("full"),
        "a centroid-eligible delta id must route to the full rebuild")
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("pq_index stays full-rebuild on append (codebooks retrain over the grown corpus)") {
    val dir = tmpDir("incr-pq")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-pq-store")
    try {
      val emb = Tables.load(spark, sfDir, "embeddings").cache()
      writeTable(emb.filter(col("vec_id") % 2 === 0), dir, "embeddings")
      var snap = new TierSnapshot(spark)
      val p1 = graft.sim.Similarity.s12Index(spark, dir)
      assert(p1.endsWith("v=1") && snap.modeOf(dir, "pq_index").contains("full"))
      val stage = tmpDir("incr-pq-delta")
      emb.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.parquet(s"$stage/e")
      appendParts(s"$stage/e", s"$dir/embeddings.parquet")
      snap = new TierSnapshot(spark)
      val p2 = graft.sim.Similarity.s12Index(spark, dir)
      // a frozen-codebook append would diverge from the per-snapshot
      // retrain the oracle does — the tier must re-train, not merge
      assert(p2.endsWith("v=2") && snap.modeOf(dir, "pq_index").contains("full"),
        "pq_index must retrain codebooks on any drift")
      emb.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("semantic components refresh incrementally under append-only embedding growth") {
    val dir = tmpDir("incr-emb")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("incr-emb-store")
    try {
      val emb = Tables.load(spark, sfDir, "embeddings").cache()
      writeTable(emb.filter(col("vec_id") % 2 === 0), dir, "embeddings")

      def clusters(d: String): Set[(Long, Long)] =
        graft.dedup.ClusterStore.embComponents(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      def inlineClusters(d: String): Set[(Long, Long)] =
        graft.dedup.ClusterStore.embComponentsInline(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet

      var snap = new TierSnapshot(spark)
      assert(clusters(dir) == inlineClusters(dir))
      assert(snap.modeOf(dir, "emb_components").contains("full"))

      val stage = tmpDir("incr-emb-delta")
      emb.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.parquet(s"$stage/e")
      appendParts(s"$stage/e", s"$dir/embeddings.parquet")
      // no manual cache drop: the stale-serve prevention is the
      // store's own dropPinnedPlans on drift

      snap = new TierSnapshot(spark)
      val c2 = clusters(dir)
      assert(snap.modeOf(dir, "emb_components").contains("merge"), "semantic components must refresh via the contracted merge")
      assert(c2 == inlineClusters(dir),
        "incremental semantic components must equal the full rebuild")
      emb.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }
}
