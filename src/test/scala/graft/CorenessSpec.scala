package graft

import graft.graph.{Algorithms, Clouds}
import org.apache.spark.sql.functions.col

/** [[Algorithms.coreness]] (h-index iteration) against classical
  * driver-side core-decomposition peeling, plus cross-operator
  * consistency with the single-k [[Algorithms.kCore]] cut and the
  * registry entry's determinism on the driver graph.
  */
class CorenessSpec extends SparkSpec {
  import spark.implicits._

  /** Textbook peeling: repeatedly remove the minimum-degree node; its
    * coreness is the running maximum of the degrees at removal. */
  private def peel(nodes: Seq[Long], und: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    val deg = collection.mutable.Map(nodes.map(n =>
      n -> adj.get(n).map(_.size.toLong).getOrElse(0L)): _*)
    val out = collection.mutable.Map.empty[Long, Long]
    val alive = collection.mutable.Set(nodes: _*)
    var k = 0L
    while (alive.nonEmpty) {
      val v = alive.minBy(n => (deg(n), n))
      k = math.max(k, deg(v))
      out(v) = k
      alive -= v
      adj.get(v).foreach(_.foreach { u =>
        if (alive(u)) { deg(u) -= 1; adj(u) -= v }
      })
    }
    out.toMap
  }

  private def run(nodes: Seq[Long], und: Seq[(Long, Long)]): Map[Long, Long] =
    Algorithms.coreness(nodes.toDF("id"), und.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def check(nodes: Seq[Long], und: Seq[(Long, Long)]): Unit = {
    val got = run(nodes, und)
    val want = peel(nodes, und)
    assert(got == want, s"h-index iterate $got vs peeling $want")
  }

  test("clique coreness is n-1; a pendant hangs at 1; isolated at 0") {
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    check(1L to 6L, clique ++ Seq((4L, 5L))) // 6 isolated
  }

  test("path and cycle: 1 vs 2 everywhere") {
    check(1L to 8L, (1L until 8L).map(i => (i, i + 1)))
    check(1L to 8L, (1L until 8L).map(i => (i, i + 1)) :+ (8L, 1L))
  }

  test("two shells: clique core at 3, attached triangle ring at 2") {
    val core = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val tri = Seq((4L, 10L), (10L, 11L), (11L, 4L))
    check((1L to 4L) ++ Seq(10L, 11L), core ++ tri)
  }

  test("coreness: image-gated iteration equals the distributed loop") {
    // Gates.within(cells = 0) forces the distributed frontier loop on the SAME
    // input — values must be identical on a random multi-component
    // graph with duplicate/reversed edges and isolated nodes
    val rng = new scala.util.Random(29)
    val raw = (1 to 500).map { _ =>
      val a = rng.nextInt(100).toLong; val b = rng.nextInt(100).toLong
      if (rng.nextBoolean()) (a, b) else (b, a)
    }.filter { case (a, b) => a != b }
    val nodes = (0L to 110L).toDF("id") // 100..110 isolated
    val edges = raw.toDF("src", "dst")
    val viaImg = Algorithms.coreness(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Gates.within(cells = 0L) {
      Algorithms.coreness(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(viaImg == viaLoop)
    assert((100L to 110L).forall(viaImg(_) == 0L), "isolated at shell 0")
    // and both agree with the PURE synchronous h-index recurrence at the
    // same round budget (the budget is the operator contract: on this
    // graph the iterate has NOT yet reached textbook peeling at 16
    // rounds, so compare the recurrence, not the fixpoint)
    val adjM = collection.mutable.Map.empty[Long, collection.mutable.ArrayBuffer[Long]]
    raw.foreach { case (a, b) =>
      adjM.getOrElseUpdate(a, collection.mutable.ArrayBuffer.empty) += b
      adjM.getOrElseUpdate(b, collection.mutable.ArrayBuffer.empty) += a
    }
    var cur = (0L to 110L).map(n => n -> adjM.get(n).map(_.size.toLong).getOrElse(0L)).toMap
    for (_ <- 1 to Algorithms.CorenessRounds) {
      cur = cur.map { case (n, _) =>
        val vals = adjM.get(n).map(_.map(cur)).getOrElse(Seq.empty)
        val h = if (vals.isEmpty) 0L else {
          val sorted = vals.sortBy(-_)
          sorted.zipWithIndex.map { case (v, i) => math.min(v, i + 1L) }.max
        }
        n -> h
      }
    }
    assert(viaImg == cur, "budgeted recurrence replay")
  }

  test("driver graph: consistent with the k-core cut and deterministic") {
    val got = SparkEntry.queries("g_coreness")(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kcoreMembers = SparkEntry.queries("g_kcore")(spark, SF).collect()
      .map(_.getLong(0)).toSet
    val highShell = got.filter(_._2 >= Clouds.KCoreK).keySet
    assert(highShell == kcoreMembers,
      s"coreness >= ${Clouds.KCoreK} must equal the ${Clouds.KCoreK}-core membership")
    val again = SparkEntry.queries("g_coreness")(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again, "bit-deterministic across runs")
  }
}
