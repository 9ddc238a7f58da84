package graft.queries

import graft.SparkSpec

class RegistrySpec extends SparkSpec {

  /** Queries deliberately WITHOUT a SQL oracle. Empty since round 8:
    * even c16's stateful BFD fold turned out to be DuckDB-expressible
    * (recursive CTE carrying the open-bin list as a LIST<STRUCT>
    * column — `Corpus.c16BestfitPackSql`). Adding a name here without
    * a semantic spec is a coverage hole — keep this set justified
    * entry by entry.
    */
  private val specGatedOnly = Set.empty[String]

  test("every query has an oracle and every oracle a query") {
    assert(Registry.queries.keySet -- specGatedOnly == Registry.oracleSql.keySet)
    assert(specGatedOnly.subsetOf(Registry.queries.keySet))
    assert((Registry.oracleSql.keySet & specGatedOnly).isEmpty)
  }

  test("all registry queries execute on sf0.001") {
    val failed = RegistrySweep.failures
    assert(RegistrySweep.outcomes.size == Registry.queries.size)
    assert(failed.isEmpty, s"queries that failed: ${failed.mkString("; ")}")
  }

  /** Fan-outs kept on purpose: query -> why its plan reads one input
    * once per union arm. */
  private val fanOutAllowed = Map.empty[String, String]

  test("no registry plan unions arms that re-read one input") {
    val planned = RegistrySweep.outcomes.filter(_.fanOuts.isDefined)
    assert(planned.size == Registry.queries.size,
      s"no noop-write plan was captured for " +
        (Registry.queries.keySet -- planned.map(_.name)).toSeq.sorted.mkString(", "))
    val found = planned.collect {
      case o if o.fanOuts.exists(_.nonEmpty) => o.name -> o.fanOuts.get
    }.toMap
    val bad = (found -- fanOutAllowed.keySet).toSeq.sortBy(_._1)
      .map { case (n, f) => s"$n: ${f.mkString("; ")}" }
    assert(bad.isEmpty, s"one pass per fan-out (generate the arms): ${bad.mkString(" | ")}")
    val stale = fanOutAllowed.keySet -- found.keySet
    assert(stale.isEmpty, s"allow-listed queries that no longer fan out: $stale")
  }

  test("every registry query's executed plan passes the plan audit") {
    val audited = RegistrySweep.outcomes.filter(_.planFlags.isDefined)
    assert(audited.size == Registry.queries.size,
      s"no noop-write plan was captured for " +
        (Registry.queries.keySet -- audited.map(_.name)).toSeq.sorted.mkString(", "))
    val flagged = audited.collect {
      case o if o.planFlags.exists(_.nonEmpty) => s"${o.name}: ${o.planFlags.get.mkString(", ")}"
    }
    assert(flagged.isEmpty, s"plan-audit flags on the final plans: ${flagged.mkString(" | ")}")
  }

  test("no tier build unions arms that re-read one input") {
    // every execution a tier build runs — its writes, the publish's
    // sidecar passes, the components loop's rounds — not only the
    // registry write that reads the served tier afterwards
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("tier-fanout-root")
    val captured = try graft.core.Sessions.capture(spark) {
      graft.text.TokenStore.served(spark, sfDir).count()
      graft.dedup.ShingleStore.served(spark, sfDir).count()
      graft.dedup.BandIndexStore.corpusIndex(spark, sfDir).count()
      graft.dedup.ClusterStore.lshComponents(spark, sfDir).count()
      graft.dedup.ClusterStore.embComponents(spark, sfDir).count()
      graft.io.GraphStore.purchaseEdges(spark, sfDir).count()
      graft.io.GraphStore.cosupplyUnd(spark, sfDir).count()
      graft.multimodal.Multimodal.m7Index(spark, sfDir)
      graft.sim.Similarity.s12Index(spark, sfDir)
    }._2 finally {
      graft.core.Caching.releaseAll()
      prevRoot match {
        case Some(v) => sys.props("graft.graphstore.dir") = v
        case None => sys.props.remove("graft.graphstore.dir"): Unit
      }
    }
    val plans = captured.executions.filter(_.failure.isEmpty).map(_.qe)
    assert(plans.size > 9, s"only ${plans.size} executions were captured")
    val found = plans.flatMap(qe => RegistrySweep.fanOuts(qe.analyzed)).distinct
    assert(found.isEmpty, s"one pass per fan-out (generate the arms): ${found.mkString(" | ")}")
  }

  test("queries are deterministic across runs (sample)") {
    for (name <- Seq("q4_doc_assembly", "q6_listagg_distinct",
                     "d2_minhash_signature", "s1_cosine_topk")) {
      val a = Registry.queries(name)(spark, sfDir)
      val b = Registry.queries(name)(spark, sfDir)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, name)
    }
  }
}
