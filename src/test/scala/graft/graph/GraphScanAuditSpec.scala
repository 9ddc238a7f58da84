package graft.graph

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}

import graft.SparkSpec
import graft.io.GraphStore
import graft.pipeline.QueryMetrics
import graft.tools.ScanCount

/** Scan-repetition bounds for the whole g-family (round-7 verdict #7).
  *
  * Each bound is the measured executed-plan scan count of the
  * store-served form (sf0.01, recorded in PLANS.md): an iterative
  * query that loses a cache recomputes its lineage per round and the
  * count multiplies (g5's round-6 2^4 blow-up read purchase=16 in this
  * audit's terms). Any scanned input NOT named in a query's bound —
  * in particular a raw `lineitem`/`orders` scan from a query that
  * should be serving from the GraphStore tier — fails the audit too.
  */
class GraphScanAuditSpec extends SparkSpec {

  /** input basename -> max allowed executed-plan scans */
  private val bounds: Map[String, Map[String, Int]] = Map(
    "g1_pagerank"       -> Map("purchase" -> 1),
    "g2_triangles"      -> Map("cosupply" -> 1),
    "g3_bfs_hops"       -> Map("purchase" -> 1, "customer.parquet" -> 2),
    "g4_label_prop"     -> Map("cosupply" -> 1),
    "g5_hits"           -> Map("purchase" -> 1),
    "g6_degree_stats"   -> Map("purchase" -> 1),
    "g7_link_predict"   -> Map("lineitem.parquet" -> 1, "orders.parquet" -> 1),
    "g8_kcore"          -> Map("purchase" -> 1),
    // g9/g10 generate both directions of their symmetric edge cache
    // from one store read
    "g9_hash_walks"     -> Map("purchase" -> 1),
    "g10_sage_features" -> Map("purchase" -> 1,
                               "customer.parquet" -> 2, "supplier.parquet" -> 2),
    "g11_modularity"    -> Map("cosupply" -> 1),
  )

  test("every g-query's executed plan scans each input within its bound") {
    val qs = graft.queries.Registry.queries
    for ((name, bound) <- bounds.toSeq.sortBy(_._1)) {
      val counts = ScanCount.counts(spark, sfDir, qs(name))
      for ((input, n) <- counts) {
        withClue(s"$name scans $input $n times (bound ${bound.get(input)}): ") {
          assert(bound.contains(input) && n <= bound(input))
        }
      }
    }
  }

  /** g1 on the served tier is the closed form: one node-grain
    * aggregate, so its plan has exactly one exchange, no join and no
    * broadcast. The rounds it falls back to ride the cached hash(src)
    * edge set: their two round joins (edges ⟕ contributions) and the
    * final node-set join are all node grain — 10⁸⁺ rows at 100 TB —
    * so none may be a broadcast, however small the test data makes
    * them. */
  test("g1's executed plan broadcasts nothing and shuffle-hash joins every round") {
    val plan = QueryMetrics.allNodes(
      ScanCount.executedPlan(spark, sfDir, Graph.g1Pagerank)).toSeq
    assert(!plan.exists(_.isInstanceOf[BroadcastExchangeExec]), plan.head.treeString)
    assert(!plan.exists(_.isInstanceOf[BaseJoinExec]), plan.head.treeString)
    assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, plan.head.treeString)
    val rounds = QueryMetrics.allNodes(ScanCount.executedPlan(spark, sfDir,
      (s, d) => Graph.purchaseRanks(GraphStore.purchaseEdges(s, d), bipartite = false))).toSeq
    assert(!rounds.exists(_.isInstanceOf[BroadcastExchangeExec]), rounds.head.treeString)
    val joins = rounds.collect { case j: BaseJoinExec => j }
    assert(joins.size == 3 && joins.forall(_.isInstanceOf[ShuffledHashJoinExec]),
      joins.map(_.nodeName))
  }

  test("the g-family bound set matches the registry's g-queries") {
    assert(bounds.keySet ==
      graft.queries.Registry.queries.keySet.filter(_.startsWith("g")))
  }

  /** Same audit for the ClusterStore consumers: labels must come from
    * the tier (or the docs spine), never a re-run of the component
    * convergence loop (whose signature here would be shingle-stage
    * documents re-scans and embeddings scans reappearing). Broadcast
    * reuse hides some store reads from the walker, so bounds name the
    * scans the plans DO surface. */
  private val dedupBounds: Map[String, Map[String, Int]] = Map(
    "d8_dup_clusters"       -> Map("lsh_components" -> 1),
    "d9_semantic_clusters"  -> Map("emb_components" -> 1),
    "d10_survivorship"      -> Map("documents.parquet" -> 1, "lsh_components" -> 1),
    "d22_cluster_agreement" -> Map("documents.parquet" -> 1,
                                   "lsh_components" -> 1, "emb_components" -> 1),
  )

  test("cluster-store consumers scan labels from the tier, within bounds") {
    val qs = graft.queries.Registry.queries
    for ((name, bound) <- dedupBounds.toSeq.sortBy(_._1)) {
      val counts = ScanCount.counts(spark, sfDir, qs(name))
      for ((input, n) <- counts) {
        withClue(s"$name scans $input $n times (bound ${bound.get(input)}): ") {
          assert(bound.contains(input) && n <= bound(input))
        }
      }
    }
  }

  /** TokenStore consumers: the tokenize prefix must come from the
    * `tokens` tier — a `documents.parquet` scan reappearing in any of
    * these plans means the query regressed to re-tokenizing the
    * corpus. Cached-frame reuse keeps most counts at 1; k7 reads the
    * tier once into its cached (source, term) stream. */
  private val tokenBounds: Map[String, Map[String, Int]] = Map(
    "k1_top_keywords"    -> Map("tokens" -> 1),
    "k3_kywr_contract"   -> Map("tokens" -> 1),
    "k4_tfidf"           -> Map("tokens" -> 1),
    "k5_pmi_collocations" -> Map("shingles" -> 1),
    "k6_tf_cosine_capped" -> Map("tokens" -> 1),
    "k7_chi2_keywords"   -> Map("tokens" -> 1),
    "k8_rake_phrases"    -> Map("tokens" -> 1),
    "k9_textrank"        -> Map("tokens" -> 1),
    "q39_bm25"           -> Map("tokens" -> 1),
    "q40_inverted_index" -> Map("tokens" -> 1),
    "q69_index_served"   -> Map("tokens" -> 2),
    "q70_phrase_query"   -> Map("tokens" -> 2),
  )

  test("token-tier consumers scan the tokens tier, never the raw corpus") {
    val qs = graft.queries.Registry.queries
    for ((name, bound) <- tokenBounds.toSeq.sortBy(_._1)) {
      val counts = ScanCount.counts(spark, sfDir, qs(name))
      for ((input, n) <- counts) {
        withClue(s"$name scans $input $n times (bound ${bound.get(input)}): ") {
          assert(bound.contains(input) && n <= bound(input))
        }
      }
    }
  }
}
