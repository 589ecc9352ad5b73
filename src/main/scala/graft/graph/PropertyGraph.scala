package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property graph over DataFrames — the Spark-native analogue of the
  * reference's Neo4j model (/root/reference/phageclouds_gdb.py:56-73:
  * `PhageGenome` nodes, `sharesDNA`/`infects` edges with properties).
  *
  * Schema contract: `nodes` has an `id` column; `edges` has `src`/`dst`;
  * any further columns are properties. All operations are declarative
  * DataFrame transforms, so Catalyst handles predicate pushdown, column
  * pruning and join selection — nothing here materializes on the driver,
  * and every method survives a 1000-executor scale-up unchanged:
  *
  *   - Cypher `MATCH (a)-[r]->(b) WHERE ...` = filter + equi-join
  *     (seed side broadcast when small — caller passes a hint);
  *   - pattern-existence (`WHERE (a)-[:t]->(x)`) = left-semi join;
  *   - induced subgraph = two left-semi joins on the node-id set (the
  *     cloud views self-join the cloud's own rows instead, [[Clouds]]).
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  def filterEdges(cond: Column): PropertyGraph = copy(edges = edges.filter(cond))

  /** Both edge directions, preserving property columns. */
  def symmetrizedEdges: DataFrame = {
    val props = edges.columns.filter(c => c != "src" && c != "dst").map(col)
    edges.union(edges.select(Seq(col("dst").as("src"), col("src").as("dst")) ++ props: _*))
  }

  /** 1-hop expand: `MATCH (a)-[r]->(b)` from a seed node set. `seeds` must
    * carry `id`; result has all seed columns plus the edge columns.
    *
    * Broadcast policy: NOT forced. A cloud seed set is unbounded (a
    * popular cloud at 100 TB is millions of ids — an unconditional
    * broadcast OOMs the executors), so the default is a shuffled join
    * and AQE upgrades it to broadcast at runtime when the built side
    * is actually small. Callers that KNOW the seed set is bounded
    * (e.g. a fixed query list) pass `broadcastSeeds = true`. */
  def expandFrom(seeds: DataFrame, edgeCond: Column = lit(true),
                 broadcastSeeds: Boolean = false): DataFrame = {
    val s = if (broadcastSeeds) broadcast(seeds) else seeds
    s.join(edges.filter(edgeCond), s("id") === col("src"))
  }

  /** Subgraph induced by a node-id set (`ids` has a single `id` column):
    * keeps edges whose BOTH endpoints are in the set — the reference's
    * second query in every script (gdb.py:64-67). Left-semi joins: no
    * payload duplication, no row explosion. Same broadcast policy as
    * [[expandFrom]]: the id set is unbounded, so shuffle by default and
    * let AQE pick broadcast when the set is measured small. */
  def inducedSubgraph(ids: DataFrame, broadcastIds: Boolean = false): PropertyGraph = {
    val idsOnly = ids.select(col("id"))
    def side(d: DataFrame) = if (broadcastIds) broadcast(d) else d
    PropertyGraph(
      nodes.join(side(idsOnly), Seq("id"), "left_semi"),
      edges
        .join(side(idsOnly.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
        .join(side(idsOnly.withColumnRenamed("id", "dst")), Seq("dst"), "left_semi"))
  }

  /** Per-node out/in/total degree, including isolated nodes (degree 0).
    * Two partial-aggregated groupBys + a broadcast-size join per side at
    * dimension scale; at fact scale both aggs shuffle once on the id. */
  def degrees: DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    nodes.select(col("id"))
      .join(out, Seq("id"), "left_outer")
      .join(in, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        (coalesce(col("out_deg"), lit(0L)) + coalesce(col("in_deg"), lit(0L))).as("deg"))
  }

  /** Multi-hop directed BFS frontier: distinct nodes reachable in exactly
    * `hops` hops from the seed ids. Frontier-only joins — the working set
    * per iteration is the frontier, not the graph. */
  def hopFrontier(seedIds: DataFrame, hops: Int, edgeCond: Column = lit(true)): DataFrame = {
    val e = edges.filter(edgeCond).select(col("src"), col("dst"))
    var frontier = seedIds.select(col("id")).distinct()
    for (_ <- 1 to hops) {
      // fresh aliases per iteration: after hop 1 the frontier descends from
      // `e` itself and an unaliased self-join is ambiguous (AMBIGUOUS_SELF_JOIN)
      frontier = frontier.as("f").join(e.as("e"), col("f.id") === col("e.src"))
        .select(col("e.dst").as("id")).distinct()
    }
    frontier
  }

  /** `(a)-[e1]->(b)-[e2]->(c)` chain matcher (generic 2-step pattern).
    * Self-join on the edge table, shuffled on the chain key only. */
  def chain2(edgeCond: Column = lit(true)): DataFrame = {
    val e1 = edges.filter(edgeCond).select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.filter(edgeCond).select(col("src").as("b2"), col("dst").as("c"))
    e1.join(e2, col("b") === col("b2")).select(col("a"), col("b"), col("c"))
  }

  /** Per-node triangle counts (0 for triangle-free nodes); the global
    * count is sum/3. Wedges are built from the DEGREE-ORIENTED edge set
    * (each edge points from its lower-degree endpoint, ties by id): every
    * triangle then has exactly one apex with two out-edges, so it is
    * enumerated once, and the wedge count per node is bounded by the
    * graph arboricity instead of exploding quadratically in the densest
    * similarity bucket — the difference between a plan that survives a
    * 100× scale-up and one that doesn't. */
  def triangleCounts(edgeCond: Column = lit(true)): DataFrame = {
    val canon = edges.filter(edgeCond)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = canon.select(col("u").as("id")).union(canon.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"))
    // wedge (a; b, c) with b < c as ids; close it with the canonical edge (b, c)
    val wedges = oriented.select(col("a"), col("b"))
      .join(oriented.select(col("a").as("a2"), col("b").as("c")),
        col("a") === col("a2") && col("b") < col("c"))
    val triangles = wedges
      .join(canon.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    nodes.select(col("id"))
      .join(perNode, Seq("id"), "left_outer")
      .select(col("id").as("node"), coalesce(col("tri"), lit(0L)).as("n_triangles"))
  }
}
