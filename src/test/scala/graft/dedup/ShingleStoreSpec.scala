package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shingle tier: served artifacts row-equal to the inline per-doc
  * map, stored hash columns reproducing the recompute exactly (the
  * md5-pass-at-build-time contract every d-query now rides). */
class ShingleStoreSpec extends SparkSpec {

  test("tier-served artifacts are row-equal to the inline shingle map") {
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("shingle-tier")
    try {
      val served = ShingleStore.served(spark, sfDir)
      val inline = ShingleStore.artifacts(spark, sfDir)
      assert(served.columns.toSeq ==
        Seq("doc_id", "source", "lang", "tokens", "shingles", "hm", "hs"))
      assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty)
      val snap = new graft.io.TierSnapshot(spark)
      ShingleStore.served(spark, sfDir).count(): Unit
      assert(snap.published.isEmpty, "fresh serve must not rebuild")
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("signatures and simhash from stored hash longs equal the from-text recompute") {
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("shingle-tier-sig")
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
      val sigTier = Dedup.signaturesOf(
        ShingleStore.served(spark, sfDir).select("doc_id", "hm"))
      val sigText = Dedup.signaturesOf(Dedup.withShingles(docs))
      assert(sigTier.exceptAll(sigText).isEmpty && sigText.exceptAll(sigTier).isEmpty)
      val simTier = Dedup.simhashOf(
        ShingleStore.served(spark, sfDir).select("doc_id", "hs"))
      val simText = Dedup.simhashOf(Dedup.withShingles(docs))
      assert(simTier.exceptAll(simText).isEmpty && simText.exceptAll(simTier).isEmpty)
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("exploded tier rows equal Dedup.shingleRows over the raw corpus") {
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("shingle-tier-rows")
    try {
      val tier = ShingleStore.shingleRows(spark, sfDir)
      val inline = Dedup.shingleRows(
        graft.core.Tables.load(spark, sfDir, "documents"))
      assert(tier.exceptAll(inline).isEmpty && inline.exceptAll(tier).isEmpty)
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }
}
