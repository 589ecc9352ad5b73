package graft

import graft.graph.{Algorithms, PropertyGraph}

/** Randomized cross-checks: the distributed algorithms vs driver-side
  * reference implementations on seeded random graphs. Few cases (Spark
  * round trips are slow), but each case is a full adversarial graph —
  * self-loop-free digraphs with duplicate edges, disconnected bits and
  * cycles. */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Cases = 5

  private def randomGraph(seed: Int): (Int, List[(Long, Long)]) = {
    val rng = new scala.util.Random(seed)
    val n = 2 + rng.nextInt(23)
    val m = rng.nextInt(2 * n)
    val edges = List.fill(m) {
      val a = rng.nextInt(n).toLong
      var b = rng.nextInt(n).toLong
      if (a == b) b = (a + 1) % n
      (a, b)
    }
    (n, edges)
  }

  private def edgeDf(edges: List[(Long, Long)]) =
    (if (edges.isEmpty) List((0L, 1L)).take(0) else edges).toDF("src", "dst")

  test("connected components equal driver-side union-find on random graphs") {
    for (seed <- 1 to Cases) {
      val (n, edges) = randomGraph(seed)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map { i =>
        val root = find(i)
        i.toLong -> (0 until n).filter(j => find(j) == root).min.toLong
      }.toMap
      def labels() = Algorithms.connectedComponents(
        (0L until n.toLong).toDF("id"), edgeDf(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels() == expected, s"seed=$seed edges=$edges")
      // the same reference for the forced distributed loop
      assert(Gates.within(edges = 0L)(labels()) == expected,
        s"distributed: seed=$seed edges=$edges")
    }
  }

  test("per-node triangle counts equal brute-force enumeration on random graphs") {
    for (seed <- 11 to 10 + Cases) {
      val (n, edges) = randomGraph(seed)
      val undirected = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val triangles = (for {
        u <- 0L until n.toLong
        v <- (u + 1) until n.toLong
        w <- (v + 1) until n.toLong
        if undirected((u, v)) && undirected((v, w)) && undirected((u, w))
      } yield (u, v, w)).toList
      val expected = (0L until n.toLong).map(i =>
        i -> triangles.count(t => t._1 == i || t._2 == i || t._3 == i).toLong).toMap
      val got = PropertyGraph((0L until n.toLong).toDF("id"), edgeDf(edges))
        .triangleCounts().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed edges=$edges")
    }
  }

  test("k-core equals driver-side iterative peeling on random graphs") {
    for (seed <- 31 to 30 + Cases) {
      val (n, edges) = randomGraph(seed)
      val k = 2 + (seed % 2)
      // reference peel over the undirected multigraph view (the kernel
      // counts sym entries, so duplicate edges count twice — replicate)
      val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      var members = (0L until n.toLong).toSet
      var changed = true
      while (changed) {
        val deg = sym.filter(e => members(e._1) && members(e._2))
          .groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val next = members.filter(id => deg.getOrElse(id, 0L) >= k)
        changed = next != members
        members = next
      }
      val expDeg = sym.filter(e => members(e._1) && members(e._2))
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val got = Algorithms.kCore((0L until n.toLong).toDF("id"), edgeDf(edges), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expDeg, s"seed=$seed k=$k edges=$edges")
    }
  }

  test("label propagation equals a driver-side synchronous reference on random graphs") {
    for (seed <- 41 to 40 + Cases) {
      val (n, edges) = randomGraph(seed)
      val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      var labels = (0L until n.toLong).map(i => i -> i).toMap
      for (_ <- 1 to Algorithms.LabelPropRounds) {
        val next = (0L until n.toLong).map { u =>
          val nbrLabels = sym.filter(_._1 == u).map(e => labels(e._2))
          if (nbrLabels.isEmpty) u -> labels(u)
          else {
            val counts = nbrLabels.groupBy(identity).view.mapValues(_.size).toMap
            // most frequent, ties toward the smallest label
            u -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
          }
        }.toMap
        labels = next
      }
      val got = Algorithms.labelPropagation(
        (0L until n.toLong).toDF("id"), edgeDf(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == labels, s"seed=$seed edges=$edges")
    }
  }

  test("shortest paths equal driver-side Dijkstra on random weighted graphs") {
    for (seed <- 21 to 20 + Cases) {
      val (n, base) = randomGraph(seed)
      val rng = new scala.util.Random(seed * 31)
      val edges = base.map { case (a, b) => (a, b, (1 + rng.nextInt(9)).toDouble) }
      val adj = edges.groupBy(_._1).view
        .mapValues(_.map { case (_, b, w) => (b, w) }).toMap
      val dist = scala.collection.mutable.Map(0L -> 0.0)
      val pq = scala.collection.mutable.PriorityQueue((0.0, 0L))(
        Ordering.by[(Double, Long), Double](_._1).reverse)
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (d <= dist.getOrElse(u, Double.MaxValue)) {
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            if (d + w < dist.getOrElse(v, Double.MaxValue)) {
              dist(v) = d + w; pq.enqueue((d + w, v))
            }
          }
        }
      }
      val eDf = (if (edges.isEmpty) List((0L, 1L, 1.0)).take(0) else edges)
        .toDF("src", "dst", "weight")
      val got = Algorithms.shortestPaths(
        (0L until n.toLong).toDF("id"), eDf, Seq(0L).toDF("id")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      (0L until n.toLong).foreach { i =>
        assert(got(i) == dist.get(i), s"seed=$seed node=$i edges=$edges")
      }
    }
  }
}
