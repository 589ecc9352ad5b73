package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, Clouds}

class TrussSpec extends SparkSpec {

  private def edgesDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** Reference peel: iterate support-within-survivors in plain Scala. */
  private def bruteTruss(pairs: Set[(Long, Long)], k: Int): Map[(Long, Long), Int] = {
    var surv = pairs
    var changed = true
    def support(s: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val adj = s.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      s.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size }.toMap
    }
    while (changed) {
      val sup = support(surv)
      val next = surv.filter(e => sup(e) >= k - 2)
      changed = next != surv
      surv = next
    }
    support(surv).filter(_._2 > 0)
  }

  // two K4 cliques sharing node 3, plus a triangle-free tail 100-101-102
  // and a pendant triangle 7-8-9 (support 1 everywhere — peels at k=4)
  private val planted: Seq[(Long, Long)] =
    (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)) ++
    (for { a <- 3L to 6L; b <- 3L to 6L if a < b } yield (a, b)) ++
    Seq((100L, 101L), (101L, 102L), (7L, 8L), (8L, 9L), (7L, 9L), (6L, 7L))

  test("kTruss keeps exactly the two planted 4-cliques and peels tails, pendant triangles") {
    val got = rowsOf(Algorithms.kTruss(edgesDf(planted), 4))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = bruteTruss(planted.toSet, 4).map { case (e, s) => e -> s.toLong }
    assert(got == want)
    // every surviving edge is inside one of the K4s with support 2
    assert(got.values.forall(_ == 2L))
    assert(got.keySet == (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toSet ++
      (for { a <- 3L to 6L; b <- 3L to 6L if a < b } yield (a, b)).toSet)
  }

  test("kTruss at k=3 keeps the pendant triangle but still drops triangle-free edges") {
    val got = rowsOf(Algorithms.kTruss(edgesDf(planted), 3))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = bruteTruss(planted.toSet, 3).map { case (e, s) => e -> s.toLong }
    assert(got == want)
    assert(got.contains((7L, 8L)) && got.contains((7L, 9L)) && got.contains((8L, 9L)))
    assert(!got.contains((100L, 101L)) && !got.contains((6L, 7L)))
  }

  test("edgeSupport: broadcast-image path and shuffle path are row-identical") {
    val e = edgesDf(planted).select(col("src").as("u"), col("dst").as("v"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    // under the image bound -> AdjImage broadcast + mapPartitions intersect
    val img = rowsOf(Algorithms.edgeSupport(e)).map(key).toSet
    // bound forced below -> the two-shuffle-join SortedIntersectCount plan
    val shuffle = Gates.within(cells = -1L) {
      rowsOf(Algorithms.edgeSupport(e)).map(key).toSet
    }
    assert(img == shuffle)
    assert(img.nonEmpty)
  }

  test("kTruss: gated local peel equals the distributed round loop") {
    // the collect gate (Gates.edges) routes sub-gate inputs through
    // the driver-side peel; Gates.within(edges = 0) forces the
    // distributed per-round image plans on the SAME input, and adding
    // cells = -1 forces the per-round array-join plans — the
    // (edge -> support) maps must be identical on a random graph with
    // planted cliques (peel survivors) and random noise (peeled tails)
    val rng = new scala.util.Random(31)
    val noise = (1 to 250).map { _ =>
      val a = rng.nextInt(90).toLong; val b = rng.nextInt(90).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val all = (planted ++ noise).distinct
    for (k <- Seq(3, 4)) {
      val local = rowsOf(Algorithms.kTruss(edgesDf(all), k))
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val dist = Gates.within(edges = 0L) {
        rowsOf(Algorithms.kTruss(edgesDf(all), k))
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      val joined = Gates.within(edges = 0L, cells = -1L) {
        rowsOf(Algorithms.kTruss(edgesDf(all), k))
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      assert(local == dist, s"k=$k")
      assert(local == joined, s"k=$k, join rounds")
      assert(local == bruteTruss(all.toSet, k).map { case (e, s) => e -> s.toLong },
        s"k=$k vs brute peel")
    }
  }

  test("trussSupport on the driver graph: canonical edges, support matches the brute count") {
    val sup = rowsOf(Clouds.trussSupport(spark, SF))
    assert(sup.nonEmpty)
    assert(sup.forall(r => r.getLong(0) < r.getLong(1)), "canonical src < dst")
    // brute-force the same thresholded edge set in Scala
    val g = graph.TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= graph.TestGraph.QueryThreshold)
    val pairs = rowsOf(g.edges.select(col("src"), col("dst")))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    sup.foreach { r =>
      val want = (adj(r.getLong(0)) & adj(r.getLong(1))).size.toLong
      assert(r.getLong(2) == want, s"edge ${r.getLong(0)}-${r.getLong(1)}")
    }
  }

  test("g_ktruss registry entry runs and sits inside the (k-1)-core") {
    val truss = rowsOf(Clouds.kTrussEdges(spark, SF))
    // k-truss edges all have support >= k-2 and live inside the (k-1)-core
    assert(truss.forall(_.getLong(2) >= Clouds.KTrussK - 2))
    val coreIds = rowsOf(Algorithms.kCore(
        graph.TestGraph.graph(spark, SF).nodes,
        graph.TestGraph.graph(spark, SF)
          .filterEdges(col("distance") <= graph.TestGraph.QueryThreshold).edges,
        Clouds.KTrussK - 1))
      .map(_.getLong(0)).toSet
    truss.foreach { r =>
      assert(coreIds.contains(r.getLong(0)) && coreIds.contains(r.getLong(1)),
        s"truss edge ${r.getLong(0)}-${r.getLong(1)} outside the ${Clouds.KTrussK - 1}-core")
    }
  }
}
