package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.graph.{Clouds, TestGraph}

/** The cloud views plan each cloud from its seeds: a bucketed 1-hop from
  * the seed rows, then an induced self-join over the cloud's own rows.
  * This spec checks them row for row against the whole-graph
  * formulation they replaced — `PropertyGraph.expandFrom` over
  * `TestGraph.sharesDna`, the family cloud's left-outer expand (written
  * out here), and `inducedSubgraph` — on a grid of the four modes ×
  * four thresholds × three keys. The grid includes thresholds above
  * `BuildThreshold` (0.25, the CLI default) and keys that seed an empty
  * cloud. Taxon and family keys are the default, a key no genome name
  * contains and a 4-digit taxonomy substring; host keys are the default
  * genus, a genus no host has and a second genus. */
class CloudPlanSpec extends SparkSpec {
  import TestGraph._

  private lazy val g = TestGraph.graph(spark, SF)

  private val Thresholds = Seq(0.02, 0.10, 0.15, 0.25)
  private val Keys = Map(
    "taxon" -> Seq(Taxon, "none", "0009"),
    "family" -> Seq(Family, "none", "0009"),
    "host" -> Seq(HostGenus, "NATION_99", "NATION_12"),
    "host_harsh" -> Seq(HostGenus, "NATION_99", "NATION_12"))

  private def seeds(mode: String, key: String): DataFrame = mode match {
    case "taxon" | "family" =>
      g.nodes.filter(col("source") === Ncbi && col("taxonomy").contains(key))
    case _ =>
      val inf = g.nodes.join(broadcast(hosts(spark, SF).filter(col("genus") === key)),
        col("hostkey") === col("host_id"), "left_semi")
      if (mode == "host_harsh") inf.filter(col("source") =!= Gtdb) else inf
  }

  /** The cloud's id set as the whole-graph plans computed it. */
  private def referenceIds(mode: String, key: String, d: Double): DataFrame = {
    val s = seeds(mode, key)
    if (mode == "family") {
      // family.py:94's OPTIONAL MATCH: the left-outer expand keeps a
      // seed with no qualifying edge
      val expanded = s.join(g.edges.filter(col("distance") <= d),
        s("id") === col("src"), "left_outer")
      s.select(col("id"))
        .union(expanded.filter(col("dst").isNotNull).select(col("dst").as("id")))
        .distinct()
    } else {
      val expanded = g.expandFrom(s, col("distance") <= d)
      expanded.select(col("id")).union(expanded.select(col("dst").as("id"))).distinct()
    }
  }

  private def views(mode: String, key: String, d: Double): (DataFrame, DataFrame) = mode match {
    case "taxon" => (Clouds.cloudNodes(spark, SF, key, d), Clouds.cloudEdges(spark, SF, key, d))
    case "family" => (Clouds.familyNodes(spark, SF, key, d), Clouds.familyEdges(spark, SF, key, d))
    case _ =>
      val harsh = mode == "host_harsh"
      (Clouds.hostCloud(spark, SF, harsh, key, d), Clouds.hostEdges(spark, SF, harsh, key, d))
  }

  private def cloudPlan(mode: String, key: String, d: Double): Clouds.CloudPlan = mode match {
    case "taxon" => Clouds.taxonPlan(spark, SF, key, d)
    case "family" => Clouds.familyPlan(spark, SF, key, d)
    case _ => Clouds.hostPlan(spark, SF, mode == "host_harsh", key, d)
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("cloud views equal the whole-graph expand + induced-subgraph plans, row for row") {
    var sizes = Vector.empty[(Int, Int)]
    for ((mode, keys) <- Keys.toSeq.sortBy(_._1); key <- keys; d <- Thresholds) {
      val at = s"$mode key=$key d=$d"
      val ids = referenceIds(mode, key, d)
      val induced = g.filterEdges(col("distance") <= d).inducedSubgraph(ids)
      val refEdges = induced.edges.select(col("src"), col("dst"), col("distance"))
      val (nodes, edges) = views(mode, key, d)
      // the node projection is the view's own; the rows it reads are the
      // whole-graph induced node set
      val expectNodes = rows(cloudPlan(mode, key, d).nodesOf(induced.nodes))
      val expectEdges = rows(
        if (mode.startsWith("host")) refEdges
        else refEdges.withColumn("value", lit(d) - col("distance") + lit(0.1)))
      val (gotNodes, gotEdges) = (rows(nodes), rows(edges))
      assert(gotNodes == expectNodes, s"$at: nodes")
      assert(edges.columns.toSeq == Seq("src", "dst", "distance") ++
        (if (mode.startsWith("host")) Nil else Seq("value")), s"$at: edge columns")
      assert(gotEdges == expectEdges, s"$at: edges")
      if (mode == "family")
        assert(rows(Clouds.familyCloud(spark, SF, key, d)) == rows(ids), s"$at: family ids")
      if (mode == "taxon")
        assert(rows(Clouds.taxonCloud(spark, SF, key, d)) ==
          rows(g.expandFrom(seeds(mode, key), col("distance") <= d)
            .select(col("id"), col("dst"))), s"$at: 1-hop")
      sizes :+= (gotNodes.size, gotEdges.size)
    }
    // the grid covers empty clouds, edge-less clouds and clouds with edges
    assert(sizes.contains((0, 0)))
    assert(sizes.exists { case (n, e) => n > 0 && e == 0 })
    assert(sizes.exists { case (_, e) => e > 0 })
  }
}
