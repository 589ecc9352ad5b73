package graft

import org.apache.spark.sql.functions._
import graft.graph.{Clouds, TestGraph}

/** Planted-graph checks for the census operators (g_square_count,
  * g_rich_club, g_genus_projection) plus sf0.001 shape invariants. */
class CensusSpec extends SparkSpec {
  import spark.implicits._

  private def canon(edges: (Long, Long)*) =
    edges.toSeq.toDF("u", "v")

  test("square count: a single 4-cycle has exactly one square") {
    // 1-2-3-4-1: diagonals {1,3} and {2,4} each see 2 common neighbours
    val r = Clouds.squareCountOnCanon(canon((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
      .collect().head
    assert(r.getAs[Long]("n_coneighbor_pairs") == 2)
    assert(r.getAs[Long]("n_wedge_pairs") == 4)
    assert(r.getAs[Long]("n_squares") == 1)
  }

  test("square count: K4 contains three 4-cycles; a triangle contains none") {
    val k4 = Clouds.squareCountOnCanon(canon(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))).collect().head
    assert(k4.getAs[Long]("n_squares") == 3)
    val tri = Clouds.squareCountOnCanon(canon((1L, 2L), (2L, 3L), (1L, 3L)))
      .collect().head
    assert(tri.getAs[Long]("n_squares") == 0)
    assert(tri.getAs[Long]("n_coneighbor_pairs") == 3) // each pair shares 1 middle
  }

  test("rich club: K4 plus a pendant node — hand-computed profile") {
    // degrees: 1→4 (K4 + pendant 5), 2/3/4→3, 5→1
    val g = canon((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
    val rows = Clouds.richClubOnCanon(spark, g).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_rich_nodes"), r.getAs[Long]("n_rich_edges"),
          r.getAs[Double]("phi")))).toMap
    assert(rows(1L) == ((4L, 6L, 1.0)))  // the K4 is a perfect club
    assert(rows(2L) == ((4L, 6L, 1.0)))
    assert(rows(4L) == ((0L, 0L, 0.0)))  // nobody has degree > 4
    assert(rows.keySet == Set(1L, 2L, 4L, 8L, 16L, 32L)) // full ladder present
  }

  test("rich club on sf0.001: monotone non-increasing club sizes, phi in [0,1]") {
    val rows = Clouds.richClub(spark, SF).collect()
    assert(rows.length == Clouds.RichClubKs.length)
    val sizes = rows.map(_.getAs[Long]("n_rich_nodes"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val phi = r.getAs[Double]("phi")
      assert(phi >= 0.0 && phi <= 1.0)
    }
  }

  test("genus projection: canonical pairs, counts sum to the thresholded edge count") {
    val rows = Clouds.genusProjection(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("genus_a") <= r.getAs[String]("genus_b"))
      assert(r.getAs[Double]("min_distance") <= r.getAs[Double]("avg_distance") + 1e-6)
    }
    val total = rows.map(_.getAs[Long]("n_edges")).sum
    val expected = TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold).count()
    assert(total == expected)
  }

  test("square census image path computes the identical integers as the wedge join") {
    val g = canon((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), // C4
      (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L), // K4
      (1L, 9L)) // pendant
    val viaJoin = Gates.within(cells = -1L)(Clouds.squareCountOnCanon(g).collect().head)
    val viaImg = Clouds.squareCountOnCanon(g).collect().head
    Seq("n_coneighbor_pairs", "n_wedge_pairs", "n_squares").foreach { c =>
      assert(viaImg.getAs[Long](c) == viaJoin.getAs[Long](c),
        s"$c: img=${viaImg.getAs[Long](c)} join=${viaJoin.getAs[Long](c)}")
    }
    assert(viaImg.getAs[Long]("n_squares") == 4L) // 1 (C4) + 3 (K4)
  }

  test("jaccard image path emits bit-identical pairs to the wedge join") {
    // K4 + pendant + a disjoint triangle: mixed degrees, some pairs
    // below the 0.3 cut, ids deliberately non-contiguous
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 9L), (20L, 21L), (20L, 22L), (21L, 22L))
    val nbrs = (edges ++ edges.map(_.swap)).toDF("node", "nbr")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2)) // both plans sort lazily at their caller
    val viaJoin = Gates.within(cells = -1L)(pairs(Clouds.neighborJaccardOn(nbrs, 0.3)))
    val viaImg = pairs(Clouds.neighborJaccardOn(nbrs, 0.3))
    assert(viaImg.toSeq == viaJoin.toSeq)
    assert(viaImg.nonEmpty)
  }

  test("degree histogram: power-of-two buckets, bounds respected, counts sum to |V|") {
    val rows = Clouds.degreeHist(spark, SF).collect()
    val nNodes = graft.graph.TestGraph.phageNodes(spark, SF).count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == nNodes)
    rows.foreach { r =>
      val b = r.getAs[Long]("deg_bucket")
      assert(b == 0L || (b & (b - 1)) == 0L, s"bucket $b is a power of two")
      val lo = r.getAs[Long]("min_deg"); val hi = r.getAs[Long]("max_deg")
      if (b == 0L) assert(lo == 0L && hi == 0L)
      else { assert(lo >= b); assert(hi < 2 * b) }
    }
  }

  test("epoch schedule: repeats bracket the factor, single-source corpus is exactly 1 epoch") {
    val rows = graft.pipeline.Dedup.epochSchedule(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getAs[Double]("epoch_factor")
      val n = r.getAs[Long]("n_docs"); val rep = r.getAs[Long]("n_repeats")
      assert(f >= 0.25 && f <= 4.0)
      assert(rep >= n * math.floor(f).toLong && rep <= n * math.ceil(f).toLong)
    }
    val one = TestSession.docsFixture(Seq(
      (0L, "a b", "en", "s0", 3L), (1L, "c d", "en", "s0", 3L)))
    val r1 = graft.pipeline.Dedup.epochSchedule(spark, one).collect()
    assert(r1.length == 1 && r1.head.getAs[Long]("n_repeats") == 2L) // f = 1 exactly
  }

  test("basket pairs: canonical ordering, support floor, lift recomputed") {
    val rows = graft.relational.Tpch.qBasketPairs(spark, SF).collect()
    assert(rows.nonEmpty)
    val items = graft.Tables.lineitem(spark, SF)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length.toLong
    val freq = items.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    rows.foreach { r =>
      val (a, b, s) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("support"))
      assert(a < b && s >= 2)
      val lift = java.math.BigDecimal.valueOf(
          s.toDouble * nOrders.toDouble / (freq(a).toDouble * freq(b).toDouble))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r.getAs[Double]("lift") == lift)
    }
  }

  test("square count on sf0.001 matches a brute-force recount") {
    val got = Clouds.squareCount(spark, SF).collect().head.getAs[Long]("n_squares")
    // brute force: materialize the small canonical edge set and count
    // unordered co-neighbour pairs locally
    val es = TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold)
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val pairs = scala.collection.mutable.Map.empty[(Long, Long), Long]
    adj.foreach { case (_, nbrs) =>
      val s = nbrs.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.length)
        pairs((s(i), s(j))) = pairs.getOrElse((s(i), s(j)), 0L) + 1L
    }
    val expected = pairs.values.map(n => n * (n - 1) / 2).sum / 2
    assert(got == expected)
  }
}
