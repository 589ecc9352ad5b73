package graft

import org.apache.spark.sql.DataFrame
import graft.graph.{Algorithms, Clouds, TestGraph}
import org.apache.spark.sql.functions.col

/** [[Algorithms.louvain]]: community recovery on planted fixtures, the
  * modularity-improvement contract vs label propagation, and
  * end-to-end determinism of the registry entry on the driver graph.
  */
class LouvainSpec extends SparkSpec {
  import spark.implicits._

  private def nodesDf(ids: Long*) = ids.toDF("id")

  /** Newman modularity Q of an assignment on an unweighted undirected
    * graph — computed in plain Scala so the spec's yardstick is
    * independent of the DataFrame kernels it judges. */
  private def q(labels: Map[Long, Long], und: Seq[(Long, Long)]): Double = {
    val m = und.size.toDouble
    if (m == 0) return 0.0
    val deg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val eIn = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b) => if (labels(a) == labels(b)) eIn(labels(a)) += 1 }
    val dSum = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    labels.foreach { case (id, c) => dSum(c) += deg(id) }
    dSum.keys.map { c =>
      eIn(c) / m - math.pow(dSum(c) / (2 * m), 2)
    }.sum
  }

  private def run(nodes: Seq[Long], und: Seq[(Long, Long)]): Map[Long, Long] =
    Algorithms.louvain(nodes.toDF("id"), und.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def labelProp(nodes: Seq[Long], und: Seq[(Long, Long)]): Map[Long, Long] =
    Algorithms.labelPropagation(nodes.toDF("id"), und.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val clique1 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
  private val clique2 = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))

  test("two bridged cliques separate; the isolated node keeps itself") {
    val und = clique1 ++ clique2 ++ Seq((4L, 5L))
    val got = run(1L to 9L, und)
    assert(Set(1L, 2L, 3L, 4L).map(got).size == 1, s"left clique one community: $got")
    assert(Set(5L, 6L, 7L, 8L).map(got).size == 1, s"right clique one community: $got")
    assert(got(1L) != got(5L), "the bridge must not merge the cliques")
    assert(got(9L) == 9L, "isolated node keeps its own community")
  }

  /** WEIGHTED Newman modularity Q — the yardstick for the weighted
    * variant (reduces to [[q]] when all weights are 1). */
  private def qw(labels: Map[Long, Long], und: Seq[(Long, Long, Long)]): Double = {
    val m = und.map(_._3).sum.toDouble
    if (m == 0) return 0.0
    val deg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b, w) => deg(a) += w; deg(b) += w }
    val eIn = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b, w) =>
      if (labels(a) == labels(b)) eIn(labels(a)) += w }
    val dSum = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    labels.foreach { case (id, c) => dSum(c) += deg(id) }
    dSum.keys.map { c =>
      eIn(c) / m - math.pow(dSum(c) / (2 * m), 2)
    }.sum
  }

  test("weighted louvain follows edge strength where the unweighted variant cannot see it") {
    // a 6-ring whose HEAVY edges are (1,2),(3,4),(5,0) — topologically
    // every pairing of adjacent ring nodes is equally good, so only
    // the weights say which pairs belong together
    val nodes = 0L to 5L
    val heavy = Seq((1L, 2L), (3L, 4L), (5L, 0L)).map { case (a, b) => (a, b, 100L) }
    val light = Seq((0L, 1L), (2L, 3L), (4L, 5L)).map { case (a, b) => (a, b, 1L) }
    val und = heavy ++ light
    val wGot = Algorithms.louvainWeighted(nodes.toDF("id"),
        und.toDF("src", "dst", "w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the heavy pairs must land together, the light pairs apart
    heavy.foreach { case (a, b, _) =>
      assert(wGot(a) == wGot(b), s"heavy pair ($a,$b) must share a community: $wGot") }
    light.foreach { case (a, b, _) =>
      assert(wGot(a) != wGot(b), s"light pair ($a,$b) must split: $wGot") }
    // the contract the key exists for: under WEIGHTED modularity the
    // weighted argmax is at least as good as the weight-blind one
    val uGot = run(nodes, und.map(e => (e._1, e._2)))
    assert(qw(wGot, und) >= qw(uGot, und),
      s"weighted Q ${qw(wGot, und)} must be >= unweighted-partition Q ${qw(uGot, und)}")
    // and with unit weights the two variants are the same algorithm
    val unit = und.map(e => (e._1, e._2, 1L))
    val wUnit = Algorithms.louvainWeighted(nodes.toDF("id"),
        unit.toDF("src", "dst", "w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wUnit == uGot, "unit-weight weighted louvain == unweighted louvain")
  }

  test("coarsening level merges satellite pairs label-prop leaves split") {
    // a 5-clique with three 2-node satellites each attached by one
    // edge: level 1 moves each satellite pair together; the coarse
    // level decides pair-vs-core membership by ΔQ, not vote count
    val core = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val sats = Seq((1L, 10L), (10L, 11L), (2L, 20L), (20L, 21L), (3L, 30L), (30L, 31L))
    val nodes = (1L to 5L) ++ Seq(10L, 11L, 20L, 21L, 30L, 31L)
    val got = run(nodes, core ++ sats)
    assert((1L to 5L).map(got).toSet.size == 1, s"core stays together: $got")
    Seq((10L, 11L), (20L, 21L), (30L, 31L)).foreach { case (a, b) =>
      assert(got(a) == got(b), s"satellite pair ($a,$b) moves together: $got")
    }
  }

  test("gated local louvain equals the distributed loop") {
    // Gates.within(edges = 0) forces the distributed level/round stack on the
    // SAME input — labels must be identical on a random multigraph
    // (duplicate edges exercise the multiplicity aggregate) with
    // isolated nodes, for both the unweighted and the weighted entry
    val rng = new scala.util.Random(41)
    val raw = (1 to 300).map { _ =>
      val a = rng.nextInt(60).toLong; val b = rng.nextInt(60).toLong
      (a, b)
    }.filter { case (a, b) => a != b }
    val nodes = (0L to 70L).toDF("id") // 60..70 isolated
    val edges = raw.toDF("src", "dst")
    val viaLocal = Algorithms.louvain(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Gates.within(edges = 0L) {
      Algorithms.louvain(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(viaLocal == viaLoop)
    assert((60L to 70L).forall(viaLocal(_) >= 60L), "isolated keep selves")
    val wedges = raw.map { case (a, b) => (a, b, (rng.nextInt(5) + 1).toLong) }
      .toDF("src", "dst", "w")
    val wLocal = Algorithms.louvainWeighted(nodes, wedges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wLoop = Gates.within(edges = 0L) {
      Algorithms.louvainWeighted(nodes, wedges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(wLocal == wLoop)
  }

  test("gated local louvainRefine equals the distributed composition") {
    val rng = new scala.util.Random(43)
    val raw = (1 to 250).map { _ =>
      val a = rng.nextInt(50).toLong; val b = rng.nextInt(50).toLong
      (a, b)
    }.filter { case (a, b) => a != b }
    val nodes = (0L to 55L).toDF("id")
    val edges = raw.toDF("src", "dst")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    val viaLocal = rows(Algorithms.louvainRefine(nodes, edges))
    val viaLoop = Gates.within(edges = 0L)(rows(Algorithms.louvainRefine(nodes, edges)))
    assert(viaLocal == viaLoop)
    assert(viaLocal.exists(_._1 == 55L), "off-edge node covered")
    viaLocal.filter(t => t._1 >= 50L).foreach { t =>
      assert(t._2 == t._1 && t._3 == t._1 && t._4 == 1L && t._5 == 0,
        s"isolated audit row $t")
    }
  }

  test("modularity never below label propagation on fixtures") {
    val fixtures = Seq(
      ("bridged cliques", (1L to 9L).toSeq, clique1 ++ clique2 ++ Seq((4L, 5L))),
      ("path", (1L to 8L).toSeq, (1L until 8L).map(i => (i, i + 1)).toSeq),
      ("star+clique", (1L to 8L).toSeq,
        Seq((1L, 2L), (1L, 3L), (1L, 4L)) ++
          Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L)) ++
          Seq((4L, 5L))))
    fixtures.foreach { case (name, nodes, und) =>
      val qLouvain = q(run(nodes, und), und)
      val qLp = q(labelProp(nodes, und), und)
      assert(qLouvain >= qLp - 1e-9,
        s"$name: Q(louvain)=$qLouvain < Q(label_prop)=$qLp")
    }
  }

  test("empty graph and empty node set degrade to empty/self frames") {
    assert(run(Seq.empty, Seq.empty).isEmpty)
    val lone = run(Seq(1L, 2L), Seq.empty)
    assert(lone == Map(1L -> 1L, 2L -> 2L), "edgeless nodes keep themselves")
  }

  test("driver graph: deterministic, full cover, Q >= label_prop") {
    val df: DataFrame = SparkEntry.queries("g_louvain")(spark, SF)
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    val nNodes = TestGraph.phageNodes(spark, SF).count()
    assert(rows.length == nNodes, "every node assigned exactly once")
    val again = SparkEntry.queries("g_louvain")(spark, SF)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.toSeq == again.toSeq, "bit-deterministic across runs")
    // the modularity-optimizer must beat (or tie) the frequency vote
    // on the real thresholded graph too, not just on toys
    val und = TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
      .edges.select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lp = SparkEntry.queries("g_label_prop")(spark, SF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qLouvain = q(rows.toMap, und)
    val qLp = q(lp, und)
    assert(qLouvain >= qLp - 1e-9,
      s"driver graph: Q(louvain)=$qLouvain < Q(label_prop)=$qLp")
  }

  test("refinePartition splits a planted internally-disconnected community") {
    // community 100 = {1,2,3} ∪ {10,11,12} with NO edge between the two
    // triangles — the Louvain defect Leiden repairs; community 200 is a
    // connected path; node 99 is a singleton community
    val labels = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (10L, 100L), (11L, 100L), (12L, 100L),
      (20L, 200L), (21L, 200L), (22L, 200L), (99L, 99L))
      .toDF("id", "community").localCheckpoint(true)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L),
      // inter-community edge: must NOT link parts of different communities
      (3L, 20L)).toDF("src", "dst")
    val nodes = labels.select(col("id"))
    val got = Algorithms.refinePartition(nodes, edges, labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    // split community: two refined parts, min-id labels, flagged
    assert(got(1L) == ((100L, 1L, 2L, 1)))
    assert(got(2L) == ((100L, 1L, 2L, 1)))
    assert(got(3L) == ((100L, 1L, 2L, 1)),
      "the 3–20 inter-community edge must not leak into the refinement")
    assert(got(10L) == ((100L, 10L, 2L, 1)))
    assert(got(12L) == ((100L, 10L, 2L, 1)))
    // connected community: untouched, unflagged
    assert(got(20L) == ((200L, 20L, 1L, 0)))
    assert(got(22L) == ((200L, 20L, 1L, 0)))
    // singleton community: its own part
    assert(got(99L) == ((99L, 99L, 1L, 0)))
  }
}
