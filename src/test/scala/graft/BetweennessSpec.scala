package graft

import graft.graph.Clouds

/** [[Clouds.betweennessKernel]] against an in-memory reference
  * implementation of Brandes' algorithm (exact doubles, no
  * quantization) on fixture graphs — the layered DataFrame
  * accumulation must agree to well under the round(·,6) term
  * quantization it applies. Seeds mirror the kernel contract: the
  * [[Clouds.EccSeeds]] lowest node ids.
  */
class BetweennessSpec extends SparkSpec {
  import scala.collection.mutable

  /** Textbook Brandes (forward BFS σ, backward δ), restricted to the
    * given seed sample; returns Σ_s δ_s(v) for every node. */
  private def brandes(nodes: Seq[Long], und: Seq[(Long, Long)],
                      seeds: Seq[Long]): Map[Long, Double] = {
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    val bc = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    seeds.foreach { s =>
      val dist = mutable.Map(s -> 0)
      val sigma = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      sigma(s) = 1.0
      val order = mutable.ArrayBuffer(s)
      val queue = mutable.Queue(s)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        adj.getOrElse(u, Nil).foreach { v =>
          if (!dist.contains(v)) {
            dist(v) = dist(u) + 1; queue.enqueue(v); order += v
          }
          if (dist(v) == dist(u) + 1) sigma(v) += sigma(u)
        }
      }
      val delta = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      order.reverseIterator.foreach { v =>
        adj.getOrElse(v, Nil).foreach { u =>
          if (dist.contains(u) && dist(u) == dist(v) - 1)
            delta(u) += sigma(u) / sigma(v) * (1.0 + delta(v))
        }
      }
      nodes.foreach(v => if (v != s) bc(v) += delta(v))
    }
    nodes.map(v => v -> bc(v)).toMap
  }

  private def run(nodes: Seq[Long], und: Seq[(Long, Long)]): Map[Long, Double] = {
    import spark.implicits._
    val n = nodes.toDF("id")
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    Clouds.betweennessKernel(n, sym).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def check(nodes: Seq[Long], und: Seq[(Long, Long)]): Unit = {
    val got = run(nodes, und)
    val want = brandes(nodes, und, nodes.sorted.take(Clouds.EccSeeds))
    assert(got.keySet == want.keySet)
    nodes.foreach { v =>
      assert(math.abs(got(v) - want(v)) < 1e-4,
        s"node $v: kernel ${got(v)} vs reference ${want(v)}")
    }
  }

  test("path graph: interior nodes carry the dependency mass") {
    check(Seq(0L, 1L, 2L, 3L, 4L), Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("diamond: sigma > 1 splits dependency between equal-length paths") {
    // 0-1-3 and 0-2-3 are both shortest; 4 hangs off 3; 5 is isolated
    check(Seq(0L, 1L, 2L, 3L, 4L, 5L),
      Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
  }

  test("star: the hub mediates every peripheral pair") {
    check(Seq(0L, 1L, 2L, 3L, 4L, 5L),
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)))
  }

  test("empty graph degrades to an empty frame, not an NPE") {
    assert(run(Seq.empty, Seq.empty).isEmpty)
  }

  test("image-gated Brandes is BIT-identical to the distributed layers") {
    // random multi-component graph with sigma > 1 paths and a budget
    // cut; the gated executor pass must reproduce the layered frames'
    // quantized doubles exactly, not just to tolerance
    val rng = new scala.util.Random(31)
    val und = (1 to 250)
      .map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    import spark.implicits._
    val n = (0L to 65L).toDF("id")
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val viaImg = Clouds.betweennessKernel(n, sym).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaLoop = Gates.within(cells = -1L) {
      Clouds.betweennessKernel(n, sym).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(viaImg == viaLoop)
  }

  test("driver graph: deterministic, all nodes present, mass positive") {
    val df = SparkEntry.queries("g_betweenness")(spark, SF)
    val rows = df.collect()
    val nNodes = graft.graph.TestGraph.phageNodes(spark, SF).count()
    assert(rows.length == nNodes)
    assert(rows.map(_.getDouble(1)).sum > 0.0, "some dependency mass expected")
    val again = SparkEntry.queries("g_betweenness")(spark, SF).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }
}
