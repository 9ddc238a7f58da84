package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  /** The recursion g1's oracle SQL spells out, in plain Scala: every
    * round reattaches the incoming contributions to the whole node
    * table (`nodes ⟕ contrib`, 0 for a node no edge enters), starting
    * from 10⁶ everywhere. */
  private def referenceRanks(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val outdeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val nodes = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    var ranks = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupMapReduce(_._2) { case (s, _) => ranks(s) / outdeg(s) }(_ + _)
      ranks = nodes.map(n => n -> (150000L + 850000L * contrib.getOrElse(n, 0L) / 1000000L)).toMap
    }
    ranks
  }

  test("g1's rounds equal the node-reattach recursion on graphs that are not bipartite") {
    val graphs = Seq(
      // 2 is both a src and a dst; 4 only sends
      "src-and-dst node" -> Seq(1L -> 2L, 2L -> 3L, 4L -> 2L),
      "3-cycle" -> Seq(1L -> 2L, 2L -> 3L, 3L -> 1L),
      // 10 is out-only, 13 in-only, 11 and 12 both
      "out-only and in-only nodes" -> Seq(10L -> 11L, 10L -> 12L, 11L -> 12L,
        12L -> 11L, 12L -> 13L),
      // outdeg 3 and 7: 10⁶ div 3 and 10⁶ div 7 leave remainders, so
      // each sum depends on flooring per edge, before the sum
      "outdeg > 1 with floor remainders" ->
        ((21L to 23L).map(20L -> _) ++ (30L to 36L).map(21L -> _) ++
          Seq(22L -> 20L, 30L -> 21L, 36L -> 20L)))
    for ((name, es) <- graphs) {
      val outdeg = es.groupMapReduce(_._1)(_ => 1L)(_ + _)
      val edges = spark.createDataFrame(es.map { case (s, d) => (s, d, outdeg(s)) })
        .toDF("src", "dst", "outdeg")
      val got = Graph.pagerank(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      withClue(s"$name: ") {
        assert(got.size == got.map(_._1).distinct.size, "a node appears twice")
        assert(got.toMap == referenceRanks(es))
      }
    }
  }

  /** `es` as a purchase edge frame (`cust`, `supp`, `cust_deg`) and
    * the column profile a tier publish records for it. */
  private def purchaseFrame(es: Seq[(Long, Long)]) = {
    val outdeg = es.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val df = spark.createDataFrame(es.map { case (c, p) => (c, p, outdeg(c)) })
      .toDF("cust", "supp", "cust_deg")
    df -> graft.io.TableStats.columnProfile(df, es.size.toLong)
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got.size == got.map(_._1).distinct.size, "a node appears twice")
    got.toMap
  }

  private def joins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  test("g1's closed form equals the node-reattach recursion on bipartite purchase graphs") {
    val S = Graph.SuppOffset
    val graphs = Seq(
      "one edge" -> Seq(1L -> (S + 1)),
      // outdeg 3 and 7: 150000 div 7 leaves a remainder, and the
      // supplier sums floor per edge, before the sum
      "outdeg 3 and 7 with floor remainders" ->
        ((1L to 3L).map(c => 20L -> (S + c)) ++ (1L to 7L).map(c => 21L -> (S + c))),
      // one supplier fed by many customers of mixed outdeg
      "many-customer supplier" ->
        ((1L to 40L).map(c => c -> (S + 9)) ++ (1L to 40L by 3).map(c => c -> (S + 10)) ++
          (1L to 40L by 7).map(c => c -> (S + 11))))
    for ((name, es) <- graphs) withClue(s"$name: ") {
      val (df, cols) = purchaseFrame(es)
      assert(graft.io.GraphStore.keysDisjoint(cols), cols)
      val ranks = Graph.purchaseRanks(df, bipartite = true)
      assert(joins(ranks) == 0, "the closed form plans a join")
      assert(ranksOf(ranks) == referenceRanks(es))
    }
  }

  test("g1 runs the rounds on key-limit ids or missing bounds, and matches the recursion") {
    val S = Graph.SuppOffset
    // customer S + 5 is also supplier 5's node id: a node that both
    // sends and receives, where the closed form's premise fails
    val es = Seq(1L -> (S + 5), 1L -> (S + 6), (S + 5) -> (S + 6), 2L -> (S + 5))
    val (df, cols) = purchaseFrame(es)
    val keyLimit = graft.io.GraphStore.keysDisjoint(cols)
    assert(!keyLimit, cols)
    // an in-memory frame carries no `_stats`: the guard has no bounds
    assert(!graft.io.GraphStore.purchaseBipartite(df))
    val ranks = Graph.purchaseRanks(df, keyLimit)
    assert(joins(ranks) == 3, "the rounds path plans its three joins")
    assert(ranksOf(ranks) == referenceRanks(es))
    assert(ranksOf(Graph.purchaseRanks(df, bipartite = true)) != referenceRanks(es),
      "the closed form must differ where the guard falls back")
    graft.core.Sessions.release(spark)
  }

  test("g1 runs at most 2 jobs at sf0.01") {
    val dir = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val edges = graft.io.GraphStore.purchaseEdges(spark, dir)
    assert(graft.io.GraphStore.purchaseBipartite(edges),
      "the served purchase tier's bounds must select the closed form")
    graft.core.Sessions.run(Graph.g1Pagerank(spark, dir)) // warm: tier build, resolution
    graft.core.Sessions.release(spark)
    val (_, cap) = graft.core.Sessions.capture(spark)(
      graft.core.Sessions.run(Graph.g1Pagerank(spark, dir)))
    graft.core.Sessions.release(spark)
    assert(cap.jobs.size <= 2, cap.jobs.map(_.stageInfos.map(_.name)))
  }

  test("g2 edge list is k-NN-bounded and triangle supports are consistent") {
    val out = Graph.g2Triangles(spark, sfDir).cache()
    // total support = 3 × triangle count, so it must divide by 3
    val total = out.agg(sum("n_triangles")).collect()(0).getLong(0)
    assert(total % 3 == 0, s"support sum $total not divisible by 3")
    // the sparsification bound: a node's edges ≤ its own top-3 plus
    // one per other node that chose it — degree can exceed 3, but the
    // EDGE COUNT is ≤ 3n by construction; triangles per node are
    // bounded by C(deg,2), loosely checked via the global edge bound
    val suppliers = graft.core.Tables.load(spark, sfDir, "lineitem")
      .select("l_suppkey").distinct().count()
    assert(out.count() <= suppliers)
    out.unpersist()
  }

  test("g3 BFS hops: seeds at 0, bipartite sides alternate, neighbors of seeds at 1") {
    val out = Graph.g3BfsHops(spark, sfDir).cache()
    val seeds = graft.core.Tables.load(spark, sfDir, "customer")
      .filter(col("c_nationkey") === 0).select(col("c_custkey").as("node"))
    // every seed that appears has hops = 0
    assert(out.join(seeds, "node").filter(col("hops") =!= 0).isEmpty)
    // bipartite: odd hops are suppliers (offset ids), even are customers
    val bad = out.filter(
      (col("hops") % 2 === 1 && col("node") < 1000000000L) ||
      (col("hops") % 2 === 0 && col("node") >= 1000000000L))
    assert(bad.isEmpty)
    // frontier expands: distances 0,1,2 all occupied on this data (the
    // tiny-SF graph is so connected nothing is 3 away — every supplier
    // is already at hop 1)
    val dists = out.select("hops").distinct().collect().map(_.getInt(0)).toSet
    assert(Set(0, 1, 2).subsetOf(dists) && dists.subsetOf(Set(0, 1, 2, 3)))
    out.unpersist()
  }
}
