package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX Pregel versions of the iterative analytics, kept in test
  * scope as an independent reference for the DataFrame loops in
  * [[Algorithms]]: same column contract (`id`/`src`/`dst`), a different
  * runtime (the graph pinned in executor memory instead of per-round
  * shuffles), and [[graft.GraphXFastPathSpec]] asserts both agree.
  */
object GraphXFastPath {

  private def toGraph(spark: SparkSession, nodes: DataFrame, edges: DataFrame): Graph[Unit, Unit] = {
    val vertexRdd = nodes.select(col("id")).rdd.map(r => (r.getLong(0), ()))
    val edgeRdd = edges.select(col("src"), col("dst"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph(vertexRdd, edgeRdd, defaultVertexAttr = (),
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components via GraphX Pregel; same contract as
    * [[Algorithms.connectedComponents]] — (id, component=min id). */
  def connectedComponents(spark: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    import spark.implicits._
    toGraph(spark, nodes, edges).connectedComponents()
      .vertices.map { case (id, comp) => (id, comp) }
      .toDF("id", "comp")
  }

  /** Weighted SSSP via GraphX Pregel — same contract as
    * [[Algorithms.shortestPaths]]: (id, dist) for reachable nodes,
    * dist = minimum left-folded path sum from the seed set. Pregel runs
    * to the true fixpoint (no relaxation budget): on graphs whose
    * shortest-path trees fit the DataFrame kernel's budget the two paths
    * agree bitwise, because each path's sum associates identically and
    * min is order-free. The graph is pinned in executor memory — the
    * wall-clock winner whenever it fits; the DataFrame loop remains the
    * spill-safe 100 TB path. */
  def shortestPaths(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                    seedIds: DataFrame): DataFrame = {
    import spark.implicits._
    val seeds = seedIds.select(col("id")).as[Long].collect().toSet
    val vertexRdd = nodes.select(col("id")).rdd
      .map(r => (r.getLong(0), if (seeds(r.getLong(0))) 0.0 else Double.PositiveInfinity))
    val edgeRdd = edges.select(col("src"), col("dst"), col("weight"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val g = Graph(vertexRdd, edgeRdd, defaultVertexAttr = Double.PositiveInfinity,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    g.pregel(Double.PositiveInfinity)(
      (_, d, m) => math.min(d, m),
      t => if (t.srcAttr != Double.PositiveInfinity &&
               t.srcAttr + t.attr < t.dstAttr)
             Iterator((t.dstId, t.srcAttr + t.attr))
           else Iterator.empty,
      (a, b) => math.min(a, b))
      .vertices.filter(_._2 != Double.PositiveInfinity)
      .map { case (id, d) => (id, d) }
      .toDF("id", "dist")
      // Graph() materializes edge endpoints absent from `nodes` (default
      // vertex attr); the DataFrame kernel's contract is nodes-only —
      // restrict so the two paths agree on any input
      .join(nodes.select(col("id")), Seq("id"), "left_semi")
  }

  /** Per-node triangle counts via GraphX's TriangleCount — same contract
    * as [[PropertyGraph.triangleCounts]]: (node, n_triangles) over every
    * node, zero-filled. Edges are canonicalized (src < dst, deduped)
    * before the build, which is what GraphX's implementation requires. */
  def triangleCounts(spark: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val g = toGraph(spark, nodes, canon)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    g.triangleCount().vertices
      .map { case (id, n) => (id, n.toLong) }
      .toDF("node", "n_triangles")
  }

  /** k-core via GraphX aggregateMessages peeling — same contract and
    * round budget as [[Algorithms.kCore]]: the member-flag graph drops
    * vertices whose within-member degree fell under k each round, until
    * the set is stable or the budget runs out, then reports the final
    * member-restricted degrees. The degree gather only fires when BOTH
    * endpoints are members (the induced subgraph), and parallel edges
    * count once per instance — both exactly as the DataFrame kernel's
    * member-restricted symmetrized count. */
  def kCore(spark: SparkSession, nodes: DataFrame, edges: DataFrame, k: Int,
            maxRounds: Int = Algorithms.KCoreMaxRounds): DataFrame = {
    import spark.implicits._
    def coreDeg(g: Graph[Boolean, Unit]) =
      g.aggregateMessages[Long](
        ctx => if (ctx.srcAttr && ctx.dstAttr) { ctx.sendToSrc(1L); ctx.sendToDst(1L) },
        _ + _)
    var g = toGraph(spark, nodes, edges).mapVertices((_, _) => true).cache()
    var size = g.vertices.filter(_._2).count()
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val next = g.outerJoinVertices(coreDeg(g))(
        (_, member, deg) => member && deg.exists(_ >= k)).cache()
      val m = next.vertices.filter(_._2).count()
      done = m == size // monotone: equal size ⇒ identical set ⇒ fixpoint
      g = next; size = m; round += 1
    }
    coreDeg(g).map { case (id, d) => (id, d) }.toDF("node", "core_deg")
  }

  /** Synchronous label propagation via GraphX aggregateMessages — same
    * contract as [[Algorithms.labelPropagation]]: fixed round count,
    * every round adopts the most frequent neighbour label with ties
    * broken toward the SMALLEST label (max on (count, −label) — GraphX's
    * own `lib.LabelPropagation` breaks ties by map-iteration order, so
    * it cannot serve as the parity reference). Isolated nodes keep
    * their own label. */
  def labelPropagation(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                       rounds: Int = Algorithms.LabelPropRounds): DataFrame = {
    import spark.implicits._
    val vertexRdd = nodes.select(col("id")).rdd.map(r => (r.getLong(0), r.getLong(0)))
    val edgeRdd = edges.select(col("src"), col("dst"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    var g = Graph(vertexRdd, edgeRdd, defaultVertexAttr = -1L,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to rounds) {
      val msgs = g.aggregateMessages[Map[Long, Long]](
        ctx => {
          ctx.sendToDst(Map(ctx.srcAttr -> 1L))
          ctx.sendToSrc(Map(ctx.dstAttr -> 1L))
        },
        (a, b) => (a.keySet ++ b.keySet).iterator
          .map(l => l -> (a.getOrElse(l, 0L) + b.getOrElse(l, 0L))).toMap)
      g = g.outerJoinVertices(msgs) { (_, old, m) =>
        m.map(counts => -counts.iterator.map { case (l, c) => (c, -l) }.max._2)
          .getOrElse(old)
      }.cache()
    }
    g.vertices.map { case (id, l) => (id, l) }.toDF("id", "lbl")
  }

  /** PageRank via GraphX's static implementation (`resetProb = 1 − d`).
    *
    * NOTE: GraphX normalizes differently from the textbook recurrence in
    * [[Algorithms.pageRank]] (it does not redistribute dangling mass, so
    * ranks do not sum to 1); callers comparing the two should compare
    * RANKINGS, which agree on dangling-free graphs. Offered for
    * workloads that want the in-memory Pregel runtime. */
  def pageRank(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    import spark.implicits._
    toGraph(spark, nodes, edges).staticPageRank(iters, 1 - damping)
      .vertices.map { case (id, rank) => (id, rank) }
      .toDF("id", "rank")
  }
}
