package graft

import org.apache.spark.sql.functions._
import graft.graph.Algorithms

/** Hand-computed fixtures for the oracle-less iterative algorithms. */
class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  private def nodesDf(ids: Long*) = ids.toDF("id")

  test("connected components on a two-component fixture") {
    val nodes = nodesDf(1, 2, 3, 4, 5, 6)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val comp = Algorithms.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("connected components survives an empty graph and empty edge set") {
    val none = Algorithms.connectedComponents(
      spark.emptyDataset[Long].toDF("id"),
      spark.emptyDataset[(Long, Long)].toDF("src", "dst"))
    assert(none.count() == 0)
    val isolated = Algorithms.connectedComponents(
      nodesDf(7, 8), spark.emptyDataset[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(isolated == Map(7L -> 7L, 8L -> 8L))
  }

  test("connected components converges on a long path (pointer jumping)") {
    val n = 64L
    val nodes = nodesDf(1L to n: _*)
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Algorithms.connectedComponents(nodes, edges).collect()
    assert(comp.forall(_.getLong(1) == 1L))
  }

  test("pagerank matches a driver-side reference implementation") {
    // graph with a dangling node (4) and a hub (1)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val nodes = nodesDf(1, 2, 3, 4)
    val got = Algorithms.pageRank(nodes, edges, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // reference: same recurrence, driver-side
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L, 4L))
    var pr = Seq(1L, 2L, 3L, 4L).map(_ -> 0.25).toMap
    def round12(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    for (_ <- 1 to 10) {
      val dangling = pr.filterNot(kv => out.contains(kv._1)).values.sum
      val contrib = out.toSeq.flatMap { case (s, ds) => ds.map(_ -> pr(s) / ds.size) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = pr.keys.map(id => id ->
        round12(0.15 / 4 + 0.85 * (contrib.getOrElse(id, 0.0) + dangling / 4))).toMap
    }
    got.foreach { case (id, r) => assert(math.abs(r - pr(id)) < 1e-12, s"node $id") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass conservation")
  }

  test("walk counts match driver-side A^t multiplication and rank the hub first") {
    // path 1-2-3 with a hub 3 also joined to 4 and 5; 6 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L)).toDF("src", "dst")
    val nodes = nodesDf(1, 2, 3, 4, 5, 6)
    val got = Algorithms.walkCounts(nodes, edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: integer adjacency power iterate
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L, 5L),
      4L -> Seq(3L), 5L -> Seq(3L), 6L -> Seq.empty[Long])
    var x = adj.keys.map(_ -> 1L).toMap
    for (_ <- 1 to 4)
      x = adj.keys.map(v => v -> adj(v).map(x).sum).toMap
    assert(got == x)
    assert(got(6L) == 0L, "isolated node counts zero walks")
    assert(got(3L) == got.values.max, "the hub has the most 4-walks")
  }

  test("personalized pagerank matches a driver-side restart-walk reference") {
    // seed 1; node 4 is dangling (mass restarts at the seed); node 5 is
    // disconnected from the seed side and must end at exactly 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val nodes = nodesDf(1, 2, 3, 4, 5, 6)
    val seeds = nodesDf(1)
    val got = Algorithms.personalizedPageRank(nodes, edges, seeds, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val out = Map(1L -> Seq(2L), 2L -> Seq(3L), 3L -> Seq(1L, 4L), 5L -> Seq(6L))
    def round12(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    var pr = Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0, 5L -> 0.0, 6L -> 0.0)
    for (_ <- 1 to 10) {
      val dangling = pr.filterNot(kv => out.contains(kv._1)).values.sum
      val contrib = out.toSeq.flatMap { case (s, ds) => ds.map(_ -> pr(s) / ds.size) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = pr.keys.map { id =>
        val c = contrib.getOrElse(id, 0.0)
        id -> round12(
          if (id == 1L) 0.15 / 1.0 + 0.85 * (c + dangling / 1.0)
          else 0.85 * c)
      }.toMap
    }
    got.foreach { case (id, r) => assert(math.abs(r - pr(id)) < 1e-12, s"node $id") }
    assert(got(5L) == 0.0 && got(6L) == 0.0, "no seed mass reaches the far component")
    assert(got(1L) > got(2L) && got(2L) > got(4L),
      "proximity to the seed orders the ranks")
  }

  test("per-node triangle counts on K4 plus an isolated node") {
    val nodes = nodesDf(1, 2, 3, 4, 5)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = graph.PropertyGraph(nodes, edges).triangleCounts().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L),
      "each K4 node closes 3 triangles; global = sum/3 = 4")
  }

  test("k-core matches reference peeling on a fixture and on the driver graph") {
    // fixture: K4 core {1,2,3,4} plus a pendant chain 4-5-6 that peels away
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Algorithms.kCore(nodesDf(1, 2, 3, 4, 5, 6, 7), edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "the 3-core is exactly the K4; chain and isolate peel off")

    // driver graph: cross-check against an independent in-memory peel
    val g = graph.TestGraph.graph(spark, SF)
      .filterEdges(org.apache.spark.sql.functions.col("distance") <= graph.TestGraph.QueryThreshold)
    val es = g.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = g.nodes.select("id").collect().map(_.getLong(0)).toSet
    var members = ids
    var changed = true
    while (changed) {
      val deg = members.map(_ -> 0L).toMap ++
        es.flatMap { case (a, b) if members(a) && members(b) => Seq(a, b); case _ => Nil }
          .groupBy(identity).view.mapValues(_.size.toLong)
      val next = members.filter(id => deg.getOrElse(id, 0L) >= graph.Clouds.KCoreK)
      changed = next != members
      members = next
    }
    val expDeg = es.flatMap { case (a, b) if members(a) && members(b) => Seq(a, b); case _ => Nil }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sparkCore = Algorithms.kCore(g.nodes, g.edges, graph.Clouds.KCoreK)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparkCore == expDeg, "spark k-core must equal the reference peel")
  }

  test("label propagation converges to per-clique communities across a bridge") {
    // two triangles bridged by one edge: each clique converges to its
    // minimum id; the bridge is outvoted by the within-clique majority
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val got = Algorithms.labelPropagation(nodesDf(1, 2, 3, 4, 5, 6, 7), edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got) == Set(1L), s"left clique unites on min id, got $got")
    assert(Set(4L, 5L, 6L).map(got).size == 1, s"right clique unites, got $got")
    assert(got(7L) == 7L, "isolated node keeps its own label")
    assert(got(1L) != got(5L), "the bridge must not merge the cliques")
  }

  test("pagerank/ppr/label-prop/walk-counts: gated local rounds equal the distributed loops") {
    // random multigraph with duplicate edges, dangling nodes, isolated
    // nodes AND edges whose endpoints are not node rows (the gather /
    // adopt membership filters); integers compare exactly, the 12-dp
    // quantized doubles to 1e-12 (the contract's own tolerance class)
    val rng = new scala.util.Random(53)
    val loopFree = (1 to 160).map { _ =>
      (rng.nextInt(44).toLong, rng.nextInt(44).toLong) // 40..43 off-node
    }.filter(t => t._1 != t._2)
    // one more input: the same graph plus self-loops — a duplicated one,
    // one on an off-node endpoint (41) and one on an otherwise isolated
    // node (46), which the shared dictionary must treat like any edge
    val withLoops = loopFree ++ Seq((3L, 3L), (3L, 3L), (12L, 12L), (41L, 41L),
      (46L, 46L))
    val nodes = nodesDf(0L to 47L: _*) // superset: every endpoint + isolates
    // 40..43 appear in edges but are NOT node rows here (membership filter)
    val okNodes = nodesDf((0L to 39L) ++ (44L to 47L): _*)
    val seeds = nodesDf(3, 7, 45)
    def dmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def lmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def close(a: Map[Long, Double], b: Map[Long, Double]): Unit = {
      assert(a.keySet == b.keySet)
      a.foreach { case (k, v) => assert(math.abs(v - b(k)) <= 1e-12, s"node $k") }
    }
    for (raw <- Seq(loopFree, withLoops)) {
      val edges = raw.toDF("src", "dst")
      def loop[T](body: => T): T = Gates.within(edges = -1L)(body)
      close(dmap(Algorithms.pageRank(okNodes, edges)),
        loop(dmap(Algorithms.pageRank(okNodes, edges))))
      close(dmap(Algorithms.personalizedPageRank(okNodes, edges, seeds)),
        loop(dmap(Algorithms.personalizedPageRank(okNodes, edges, seeds))))
      assert(lmap(Algorithms.labelPropagation(okNodes, edges)) ==
        loop(lmap(Algorithms.labelPropagation(okNodes, edges))))
      assert(lmap(Algorithms.walkCounts(okNodes, edges)) ==
        loop(lmap(Algorithms.walkCounts(okNodes, edges))))
      // and the superset-node case (40..43 back in as plain nodes)
      assert(lmap(Algorithms.walkCounts(nodes, edges)) ==
        loop(lmap(Algorithms.walkCounts(nodes, edges))))
      close(dmap(Algorithms.pageRank(nodes, edges)),
        loop(dmap(Algorithms.pageRank(nodes, edges))))
    }
  }

  test("shortest paths match Dijkstra on a weighted fixture") {
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 5.0), (3L, 4L, 1.0), (2L, 4L, 10.0),
      (5L, 4L, 1.0)).toDF("src", "dst", "weight")
    val nodes = nodesDf(1, 2, 3, 4, 5, 6)
    val seeds = nodesDf(1)
    val got = Algorithms.shortestPaths(nodes, edges, seeds).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(0.0))
    assert(got(2L).contains(1.0))
    assert(got(3L).contains(3.0), "1→2→3 beats the direct 5.0 edge")
    assert(got(4L).contains(4.0), "1→2→3→4 beats 1→2→4")
    assert(got(5L).isEmpty && got(6L).isEmpty, "unreachable stays null")
  }

  test("star-contraction CC agrees with hash-to-min on adversarial chains") {
    // a chain whose ids DESCEND along the path is label propagation's
    // worst case (the min creeps one hop per round); the star kernel's
    // round bound is shape-independent. 200 nodes: ids 200→1 chained,
    // plus a clique, plus isolated nodes.
    val chain = (200L to 2L by -1).map(i => (i, i - 1))
    val clique = Seq((300L, 301L), (300L, 302L), (301L, 302L))
    val nodes = ((1L to 200L) ++ Seq(300L, 301L, 302L, 400L)).toDF("id")
    val edges = (chain ++ clique).toDF("src", "dst")
    val star = Algorithms.connectedComponentsStar(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 200L).forall(star(_) == 1L), "chain collapses to min id 1")
    assert(Seq(300L, 301L, 302L).forall(star(_) == 300L))
    assert(star(400L) == 400L, "isolated node keeps itself")
    // contract parity with the main kernel on the same input
    val htm = Algorithms.connectedComponents(nodes, edges, maxIter = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == htm, "both kernels share the (id, min-member) contract")
  }

  test("star CC: gated driver union-find equals the distributed loop") {
    // the collect gate (Gates.edges) routes sub-gate inputs through
    // the driver-side min-label union-find; Gates.within(edges = 0)
    // forces the distributed alternation on the SAME input — labels
    // must be identical on a random multi-component graph with
    // duplicate/reversed/self-loop edges (the init's canonicalization)
    val rng = new scala.util.Random(19)
    val raw = (1 to 400).map { _ =>
      val a = rng.nextInt(120).toLong; val b = rng.nextInt(120).toLong
      if (rng.nextBoolean()) (a, b) else (b, a)
    } ++ Seq((5L, 5L)) // self loop must be dropped by both paths
    val nodes = (0L to 130L).toDF("id") // 121..130 isolated
    val edges = raw.toDF("src", "dst")
    val viaDriver = Algorithms.connectedComponentsStar(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Gates.within(edges = 0L) {
      Algorithms.connectedComponentsStar(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(viaDriver == viaLoop)
    assert((121L to 130L).forall(viaDriver(_) >= 121L), "isolated keep selves")
    // and the hash-to-min kernel's twin gate on the same input
    val htmDriver = Algorithms.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val htmLoop = Gates.within(edges = 0L) {
      Algorithms.connectedComponents(nodes, edges, maxIter = 256)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(htmDriver == htmLoop)
    assert(htmDriver == viaDriver, "all four paths share the min-member contract")
  }

  test("hop distances: image-gated BFS equals the distributed loop") {
    // random directed graph with sink-only nodes; both the budget cut
    // and the reach rows must match the loop path exactly
    val rng = new scala.util.Random(23)
    val edges = (1 to 300)
      .map(_ => (rng.nextInt(80).toLong, (80 + rng.nextInt(30)).toLong))
      .toDF("src", "dst") // 80..109 mostly sinks — exercises the
      // sink-only dictionary rows
    val seeds = nodesDf(0, 1, 2, 200) // 200 is edge-less: d=0 row only
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaImg = rows(Algorithms.hopDistances(seeds, edges, maxRounds = 2))
    val viaLoop = Gates.within(cells = 0L) {
      rows(Algorithms.hopDistances(seeds, edges, maxRounds = 2))
    }
    assert(viaImg == viaLoop)
    assert(viaImg.contains((200L, 200L, 0L)), "seed off the graph keeps d=0")
    assert(viaImg.forall(_._3 <= 2), "budget respected")
  }

  test("sssp: gated local relaxation equals the distributed loop") {
    // random weighted digraph; dist values must be BIT-identical
    // doubles (same additions, same mins), nulls included, and a seed
    // off the edge list keeps its 0.0 row
    val rng = new scala.util.Random(37)
    val loopFree = (1 to 400).map { _ =>
      (rng.nextInt(90).toLong, rng.nextInt(90).toLong,
        (rng.nextInt(1000) + 1) / 7.0)
    }.filter(t => t._1 != t._2)
    // one more input: the same graph plus self-loops — on a seed, on a
    // reached node, and on a node (98) no other edge touches
    val withLoops = loopFree ++ Seq((0L, 0L, 0.5), (7L, 7L, 1.0), (98L, 98L, 3.0))
    val nodes = (0L to 100L).toDF("id")
    val seeds = Seq(0L, 1L, 95L).toDF("id") // 95 is edge-less
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toSet
    for (raw <- Seq(loopFree, withLoops)) {
      val edges = raw.toDF("src", "dst", "weight")
      val viaLocal = rows(Algorithms.shortestPaths(nodes, edges, seeds))
      val viaLoop = Gates.within(edges = 0L) {
        rows(Algorithms.shortestPaths(nodes, edges, seeds))
      }
      assert(viaLocal == viaLoop)
      assert(viaLocal.contains((95L, java.lang.Double.valueOf(0.0))),
        "edge-less seed keeps 0.0")
      assert(viaLocal.exists(_._2 == null), "unreachable stay null")
    }
  }

  test("boruvka: gated local rounds equal the distributed loop") {
    // random weighted multi-component graph with duplicate weights
    // (exercises the (w, u, v, o) struct-min tiebreak); both the
    // forest SET and the component labels must match exactly
    val rng = new scala.util.Random(47)
    val raw = (1 to 300).map { _ =>
      val a = rng.nextInt(80).toLong; val b = rng.nextInt(80).toLong
      (a, b, (rng.nextInt(20) + 1) / 4.0) // few distinct w ⇒ many ties
    }.filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3))
      .distinct
    val edges = raw.toDF("u", "v", "w")
    val nodes = (0L to 90L).toDF("id") // 80..90 isolated
    val (fLoc, cLoc) = Algorithms.boruvkaMst(nodes, edges)
    def fset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (fDist, cDist) = Gates.within(edges = 0L) {
      val (f, c) = Algorithms.boruvkaMst(nodes, edges)
      (fset(f), cmap(c))
    }
    assert(fset(fLoc) == fDist)
    assert(cmap(cLoc) == cDist)
    assert((80L to 90L).forall(cmap(cLoc)(_) >= 80L), "isolated keep selves")
  }

  test("boruvka MST matches a hand-checked tree and keeps the forest invariant") {
    // square 1-2-3-4 with a heavy diagonal and a separate edge 5-6:
    // MST of the square = the three cheapest sides; diagonal excluded
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.5), (1L, 4L, 4.0),
      (1L, 3L, 9.0), (5L, 6L, 7.0)).toDF("u", "v", "w")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val (forest, comp) = Algorithms.boruvkaMst(nodes, edges)
    val f = forest.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(f == Set((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.5), (5L, 6L, 7.0)))
    val c = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L, 4L).map(c).size == 1, "square contracts to one component")
    assert(c(5L) == c(6L) && c(5L) != c(1L))
    assert(c(7L) == 7L, "isolated node is its own component")
  }

  test("boruvka MST equals Kruskal's weight on the driver graph") {
    val g = graft.graph.TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= graft.graph.TestGraph.QueryThreshold)
    val edges = g.edges.select(col("src").as("u"), col("dst").as("v"),
      col("distance").as("w"))
    val nodes = g.nodes.select(col("id"))
    val (forest, comp) = Algorithms.boruvkaMst(nodes, edges)
    val fRows = forest.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nComp = comp.select(col("c")).distinct().count()
    val nNodes = nodes.count()
    assert(fRows.length == nNodes - nComp, "forest invariant |F| = |V| - #components")
    // independent yardstick: driver-side Kruskal with union-find on the
    // collected edge list (sf0.001 is small enough to collect in a spec)
    val all = edges.collect().map(r => (r.getDouble(2), r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var kruskalWeight = BigDecimal(0)
    var kruskalEdges = 0
    all.foreach { case (w, u, v) =>
      if (find(u) != find(v)) {
        parent(find(u)) = find(v); kruskalWeight += BigDecimal(w); kruskalEdges += 1
      }
    }
    assert(fRows.length == kruskalEdges, "same forest size as Kruskal")
    val boruvkaWeight = fRows.map(e => BigDecimal(e._3)).sum
    assert((boruvkaWeight - kruskalWeight).abs < BigDecimal("1e-9"),
      s"same total weight: boruvka=$boruvkaWeight kruskal=$kruskalWeight")
  }
}
