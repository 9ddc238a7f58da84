package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TokenStoreSpec extends SparkSpec {

  test("tier-served token stream is row-equal to the inline tokenize") {
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("tokstore-tier")
    try {
      val served = TokenStore.served(spark, sfDir)
      val inline = TokenStore.tokens(spark, sfDir)
      assert(served.columns.toSeq ==
        Seq("doc_id", "source", "lang", "pos", "term"))
      assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty)
      // second serve resolves the committed version, no rebuild
      val snap = new graft.io.TierSnapshot(spark)
      TokenStore.served(spark, sfDir).count(): Unit
      assert(snap.published.isEmpty)
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("store-served top keywords equal the recompute-from-documents path") {
    val path = tmpDir("tokstore") + "/tokens"
    TokenStore.materialize(spark, sfDir, path)
    val fromStore = TokenStore.topKeywordsFromStore(spark, path)
    val direct = Keywords.k1TopKeywords(spark, sfDir)
    assert(fromStore.exceptAll(direct).isEmpty && direct.exceptAll(fromStore).isEmpty)
  }

  test("term-filtered store reads touch few files (range-sorted term layout)") {
    val path = tmpDir("tokstore-prune") + "/tokens"
    TokenStore.materialize(spark, sfDir, path, numFiles = 6)
    val back = TokenStore.load(spark, path)
    val someTerm = back.select("term").head().getString(0)
    val touched = back.filter(col("term") === someTerm)
      .select(input_file_name()).distinct().count()
    assert(touched <= 2, s"term lookup touched $touched files")
    // the store preserves every token occurrence (posexplode keeps dups)
    assert(back.count() == TokenStore.tokens(spark, sfDir).count())
  }
}
