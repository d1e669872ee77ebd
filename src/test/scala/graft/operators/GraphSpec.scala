package graft.operators


import graft.SparkSpec

/** Fixed-point PageRank semantics on hand-computed graphs. */
class GraphSpec extends SparkSpec {

  test("pagerank: hub of a star graph outranks the leaves") {
    import spark.implicits._
    // undirected star: 0–1, 0–2, 0–3 (both directions in the edge list)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val out = Graph.pagerank(edges, "src", "dst", nodes, "id", iters = 2)
      .orderBy("id").collect()
    val ranks = out.map(_.getAs[Long]("rank_fp"))
    assert(ranks(0) > ranks(1), s"hub must outrank leaves: ${ranks.toSeq}")
    assert(ranks(1) == ranks(2) && ranks(2) == ranks(3)) // symmetric leaves
    // mass is conserved up to integer-division truncation (no dangling
    // nodes here): sum ≈ Scale within iters·n units
    val total = ranks.sum
    assert(math.abs(total - Graph.Scale) < 100L,
      s"mass drifted: $total vs ${Graph.Scale}")
  }

  test("pagerank: isolated node decays to the (1-d)/n floor, exactly") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val out = Graph.pagerank(edges, "src", "dst", nodes, "id", iters = 2)
      .orderBy("id").collect()
    // node 3 has no in-edges: r = (Scale*15) div (100*3) — exact ints
    assert(out(2).getAs[Long]("rank_fp") == Graph.Scale * 15 / 300)
    // 1 and 2 exchange all their mass symmetrically
    assert(out(0).getAs[Long]("rank_fp") == out(1).getAs[Long]("rank_fp"))
  }

  test("pagerank fixed-point values are partition-invariant") {
    import spark.implicits._
    val pairs = (0L until 40L).map(i => (i, (i * 7 + 1) % 40))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val nodes = (0L until 40L).toDF("id")
    val a = Graph.pagerank(edges, "src", "dst", nodes, "id", iters = 3)
      .orderBy("id").collect().map(_.getAs[Long]("rank_fp")).toSeq
    val b = Graph.pagerank(edges.repartition(13), "src", "dst",
        nodes.repartition(7), "id", iters = 3)
      .orderBy("id").collect().map(_.getAs[Long]("rank_fp")).toSeq
    assert(a == b) // integer arithmetic: no partial-aggregation noise
  }
}
