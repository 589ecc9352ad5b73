package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.graph.{Clouds, TestGraph}

class GraphSpec extends SparkSpec {

  test("edges_build: canonical direction, threshold respected, nation-bucketed") {
    val e = rowsOf(Clouds.edgesBuild(spark, SF))
    assert(e.nonEmpty)
    e.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "src < dst canonicalization")
      assert(r.getDouble(2) <= TestGraph.BuildThreshold + 1e-12)
    }
  }

  test("taxon cloud seeds are NCBI-mapped nodes whose taxonomy contains the taxon") {
    val cloud = Clouds.taxonCloud(spark, SF)
    val nodes = TestGraph.phageNodes(spark, SF)
    val badSeeds = cloud.join(nodes, cloud("seed_phage") === nodes("id"))
      .filter(col("source") =!= TestGraph.Ncbi ||
        !col("taxonomy").contains(TestGraph.Taxon))
    assert(badSeeds.count() == 0)
    assert(cloud.count() > 0)
  }

  test("cloud nodes carry only legal viz colours and consistent sizes") {
    val r = rowsOf(Clouds.cloudNodes(spark, SF))
    assert(r.nonEmpty)
    val legal = Set("green", "red", "cyan", "pink", "purple", "yellow")
    r.foreach { row =>
      assert(legal(row.getString(row.fieldIndex("color"))))
      assert(row.getLong(row.fieldIndex("size")) ==
        row.getLong(row.fieldIndex("genome_size")) / TestGraph.SizeScaleFactor)
    }
  }

  test("cloud edges are induced: both endpoints in the cloud node set") {
    val ids = rowsOf(Clouds.cloudNodes(spark, SF)).map(_.getLong(0)).toSet
    val edges = rowsOf(Clouds.cloudEdges(spark, SF))
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(ids(r.getLong(0)) && ids(r.getLong(1)))
      assert(r.getDouble(r.fieldIndex("distance")) <= TestGraph.QueryThreshold)
    }
  }

  test("family cloud (OPTIONAL MATCH) is a superset of its seed set") {
    val family = rowsOf(Clouds.familyCloud(spark, SF)).map(_.getLong(0)).toSet
    val seeds = rowsOf(TestGraph.phageNodes(spark, SF)
      .filter(col("source") === TestGraph.Ncbi &&
        col("taxonomy").contains(TestGraph.Family))).map(_.getLong(0)).toSet
    assert(seeds.subsetOf(family), "left-outer expand must keep edge-less seeds")
  }

  test("host cloud nodes resolve a host genus via the infects FK") {
    val r = rowsOf(Clouds.hostCloud(spark, SF, harsh = false))
    assert(r.nonEmpty)
    assert(r.forall(!_.isNullAt(r.head.fieldIndex("host_genus"))))
    val harsh = rowsOf(Clouds.hostCloud(spark, SF, harsh = true))
    assert(harsh.size <= r.size, "harsh mode only removes nodes")
  }

  test("degrees: out-degree total equals edge count; deg = in + out") {
    val edgeCount = Clouds.edgesBuild(spark, SF).count()
    val d = rowsOf(Clouds.degrees(spark, SF))
    assert(d.map(_.getLong(1)).sum == edgeCount)
    assert(d.map(_.getLong(2)).sum == edgeCount)
    d.foreach(r => assert(r.getLong(3) == r.getLong(1) + r.getLong(2)))
  }

  test("two-hop frontier equals the driver-side recomputed 2-step reachability") {
    val thresholdEdges = rowsOf(TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .map(r => (r.getLong(0), r.getLong(1)))
    val seeds = rowsOf(TestGraph.phageNodes(spark, SF)
      .filter(col("source") === TestGraph.Ncbi &&
        col("taxonomy").contains(TestGraph.Taxon))).map(_.getLong(0)).toSet
    val bySrc = thresholdEdges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val hop1 = seeds.flatMap(s => bySrc.getOrElse(s, Nil))
    val expected = hop1.flatMap(m => bySrc.getOrElse(m, Nil))
    val got = rowsOf(Clouds.twoHop(spark, SF)).map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("khop reach equals driver-side BFS to 3 hops, hop 0 excluded") {
    val und = rowsOf(TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val seeds = rowsOf(TestGraph.phageNodes(spark, SF)
      .filter(col("source") === TestGraph.Ncbi &&
        col("taxonomy").contains(TestGraph.Taxon))).map(_.getLong(0))
    val expected = seeds.flatMap { s =>
      val dist = collection.mutable.Map(s -> 0L)
      var frontier = Set(s)
      for (d <- 1L to Clouds.KhopMaxHops) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      dist.toSeq.collect { case (id, d) if d >= 1 => (s, id, d) }
    }.toSet
    val got = rowsOf(Clouds.khopReach(spark, SF))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("pattern chain rows are two joined threshold edges") {
    val edges = rowsOf(TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val chains = rowsOf(Clouds.patternChain(spark, SF))
    assert(chains.nonEmpty)
    chains.take(200).foreach { r =>
      assert(edges((r.getLong(0), r.getLong(1))) && edges((r.getLong(1), r.getLong(2))))
    }
  }

  test("connected components: every threshold edge joins same-component nodes; label ≤ id") {
    val comp = rowsOf(Clouds.connectedComponents(spark, SF))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp.foreach { case (id, c) => assert(c <= id) }
    rowsOf(TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .foreach(r => assert(comp(r.getLong(0)) == comp(r.getLong(1))))
  }

  test("family nodes carry the two-level lineage enrichment and colouring") {
    val ids = rowsOf(Clouds.familyCloud(spark, SF)).map(_.getLong(0)).toSet
    val rows = rowsOf(Clouds.familyNodes(spark, SF))
    assert(rows.map(_.getLong(0)).toSet == ids, "metadata covers exactly the cloud")
    rows.foreach { r =>
      val color = r.getString(r.fieldIndex("color"))
      if (r.getString(r.fieldIndex("source")) == TestGraph.Ncbi)
        assert(color.matches("C\\d+"), "NCBI nodes take a lineage palette id")
      else assert(color == "#FFFFFF", "non-NCBI nodes are white (family.py:66)")
      assert(!r.isNullAt(r.fieldIndex("target_taxon")), "lineage lookup resolves")
    }
  }

  test("family nodes colour rank is parameterized: genus refines family (reference -t flag)") {
    val byFamily = rowsOf(Clouds.familyNodes(spark, SF))
    val byGenus = rowsOf(Clouds.familyNodes(spark, SF, colorRank = "genus"))
    // same rows, only the palette-key column may change
    assert(byFamily.map(_.getLong(0)) == byGenus.map(_.getLong(0)))
    val pairs = byFamily.zip(byGenus).filter {
      case (f, _) => f.getString(f.fieldIndex("source")) == TestGraph.Ncbi
    }.map { case (f, g) =>
      (f.getString(f.fieldIndex("color")), g.getString(g.fieldIndex("color")))
    }
    // genus-level colouring is strictly finer: each genus colour maps to
    // exactly ONE family colour (nation → region is a function), and the
    // cloud spans more genus colours than family colours
    val toFamily = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    toFamily.foreach { case (g, fams) =>
      assert(fams.size == 1, s"genus colour $g maps to several family colours $fams")
    }
    assert(pairs.map(_._2).toSet.size > pairs.map(_._1).toSet.size,
      "genus rank should bucket the palette finer than family rank")
    intercept[IllegalArgumentException] {
      Clouds.familyNodes(spark, SF, colorRank = "subspecies")
    }
  }

  test("family nodes accept a CSV-sourced lineage lookup (reference's taxid file shape)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "lineagecsv").toString
    TestGraph.lineage(spark, SF)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val csvLineage = spark.read
      .option("header", "true")
      .schema("host_id INT, genus_name STRING, family_key INT, family_name STRING")
      .csv(dir)
    val fromCsv = rowsOf(Clouds.familyNodes(spark, SF, lineageLookup = Some(csvLineage)))
      .map(_.toSeq)
    val fromDims = rowsOf(Clouds.familyNodes(spark, SF)).map(_.toSeq)
    assert(fromCsv == fromDims, "lookup source must not change the result")
  }

  test("neighbour Jaccard matches a brute-force set computation") {
    val edges = rowsOf(graft.graph.TestGraph.sharesDna(spark, SF)
      .filter(col("distance") <= graft.graph.TestGraph.QueryThreshold)
      .select(col("src"), col("dst")))
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      (a, na) <- nbrs.toSeq; (b, nb) <- nbrs.toSeq if a < b
      inter = (na & nb).size if inter > 0
      jac = inter.toDouble / (na.size + nb.size - inter) if jac >= 0.3
    } yield (a, b)).toSet
    val got = rowsOf(Clouds.neighborJaccard(spark, SF))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"pair sets differ: extra=${got -- expect} missing=${expect -- got}")
  }

  test("host edges are induced on the host-cloud node set") {
    val cloud = rowsOf(Clouds.hostCloud(spark, SF, harsh = false)).map(_.getLong(0)).toSet
    val edges = rowsOf(Clouds.hostEdges(spark, SF))
    edges.foreach { r =>
      assert(cloud(r.getLong(0)) && cloud(r.getLong(1)))
      assert(r.getDouble(2) <= TestGraph.QueryThreshold)
    }
  }

  test("host cloud exposes the reference's node-title payload (phage + host genus)") {
    val r = rowsOf(Clouds.hostCloud(spark, SF, harsh = false))
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getString(row.fieldIndex("phage_genus"))
        == s"G${row.getLong(0) % 7}")
    }
  }

  test("edge viz export: attrs JSON carries value = thres − distance + 0.1") {
    val schema = StructType(Seq(
      StructField("value", org.apache.spark.sql.types.DoubleType),
      StructField("color", StringType),
      StructField("title", org.apache.spark.sql.types.DoubleType)))
    val parsed = Clouds.vizExportEdges(spark, SF)
      .select(col("src"), col("dst"), from_json(col("attrs"), schema).as("a"))
    val bad = parsed.filter(col("a").isNull ||
      abs(col("a.value") - (lit(TestGraph.QueryThreshold) - col("a.title") + 0.1)) > 1e-12 ||
      col("a.color") =!= "lightgray")
    assert(bad.count() == 0)
    assert(parsed.count() == Clouds.cloudEdges(spark, SF).count())
  }

  test("HTML cloud export embeds every node and edge as vis-network JSON") {
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "cloudhtml").resolve("cloud.html").toString
    Clouds.exportCloudHtml(spark, SF, out)
    val html = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(html.contains("vis.Network") && html.contains("forceAtlas2Based"))
    val nodeIds = rowsOf(Clouds.cloudNodes(spark, SF)).map(_.getLong(0))
    nodeIds.foreach(id => assert(html.contains(s""""id":$id"""), s"node $id embedded"))
    assert(html.split("\"from\":").length - 1 == Clouds.cloudEdges(spark, SF).count())
    // the reference's pyvis physics choice (gdb.py:102-105) is a knob
    Clouds.exportCloudHtml(spark, SF, out, solver = "barnesHut")
    val bh = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(bh.contains("\"barnesHut\"") && !bh.contains("forceAtlas2Based"))
    intercept[IllegalArgumentException] {
      Clouds.exportCloudHtml(spark, SF, out, solver = "antigravity")
    }
    // the reference's show_buttons() panel (gdb.py:118): on by default,
    // scoped to physics, and removable
    assert(html.contains("configure") && html.contains("\"physics\"") &&
      html.contains("id=\"controls\""), "physics control panel emitted by default")
    Clouds.exportCloudHtml(spark, SF, out, controls = false)
    val bare = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(!bare.contains("configure:"), "controls=false drops the panel")
  }

  test("capped neighbour jaccard: exact at test SF, precision 1 + measured recall when the cap bites") {
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      rowsOf(df).map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val exact = pairs(Clouds.neighborJaccard(spark, SF))
    assert(exact.nonEmpty)
    // both rescores: the image path (default gate) and the array-join
    // path (cells = -1)
    for (cells <- Seq(Gates.cells, -1L)) Gates.within(cells = cells) {
      // default cap: no bucket exceeds 32 at this SF, so the sample is the
      // whole bucket and the capped operator reproduces the exact result
      val capped = pairs(Clouds.neighborJaccardCapped(spark, SF))
      assert(capped == exact, s"cap=32 must not bite at sf0.001 (cells gate $cells)")
      // cap=2 bites: exact rescore keeps precision at 1 (every reported
      // pair is an exact pair with the identical jaccard); recall drops
      // but must stay useful — the hub trade the Scaladoc documents
      val tiny = pairs(Clouds.neighborJaccardCapped(spark, SF, cap = 2))
      tiny.foreach { case (p, j) =>
        assert(exact.contains(p) && exact(p) == j,
          s"capped pair $p must be an exact pair with identical jaccard (cells gate $cells)")
      }
      val recall = tiny.size.toDouble / exact.size
      assert(recall >= 0.2 && recall <= 1.0,
        s"cap=2 recall $recall out of the useful range (${tiny.size}/${exact.size})")
    }
  }

  test("link prediction scores only non-adjacent pairs with exact integer evidence") {
    // sf0.001's graph is too dense for missing-edge candidates (every
    // ≥3-common-neighbour pair is already an edge); use the gate SF
    val sf = "/root/testdata/sf0.01"
    val edges = rowsOf(Clouds.edgesBuild(spark, sf)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .map(e => (e.getLong(0), e.getLong(1))).toSet
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // both rescores: the image path (default gate) and the array-join
    // path (cells = -1)
    for (cells <- Seq(Gates.cells, -1L)) {
      val preds = Gates.within(cells = cells)(rowsOf(Clouds.linkPrediction(spark, sf)))
      assert(preds.nonEmpty, "the thresholded graph has missing-edge candidates")
      preds.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(a < b, "canonical pair order")
        assert(!edges((a, b)), "predicted pairs are NOT existing edges")
        val cn = nbrs.getOrElse(a, Set.empty).intersect(nbrs.getOrElse(b, Set.empty)).size
        assert(r.getLong(2) == cn.toLong,
          s"common-neighbour count exact for ($a,$b) (cells gate $cells)")
        assert(r.getLong(3) ==
          nbrs(a).size.toLong * nbrs(b).size.toLong, "pref attachment = deg product")
        assert(r.getLong(2) >= 3L, "min-common filter applied")
      }
    }
  }

  test("capped candidates bound a hub bucket at C(cap,2)") {
    import spark.implicits._
    // one degree-200 hub: every leaf co-members with every other leaf
    // through it — the Σdeg² pair bomb in miniature
    val star = (1L to 200L).map(leaf => (leaf, 0L)).toDF("node", "nbr")
    val cap = Clouds.JaccardHubCap
    val n = Clouds.cappedCandidates(star, cap).count()
    assert(n == cap.toLong * (cap - 1) / 2,
      s"hub bucket must shrink C(200,2)=19900 → C($cap,2), got $n")
  }

  test("random-walk adjacency cap bounds a synthetic hub, sampling real neighbours") {
    import spark.implicits._
    // deg-1000 hub: uncapped, every step through node 0 materializes
    // 1000 candidate rows to pick one neighbour
    val hub = (1L to 1000L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("u", "v")
    val cap = 8
    val capped = rowsOf(Clouds.cappedAdjacency(hub, cap))
      .map(r => (r.getLong(0), r.getLong(1)))
    val byNode = capped.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byNode(0L).size == cap, "hub adjacency sampled to exactly cap rows")
    byNode.foreach { case (u, vs) =>
      assert(vs.size <= cap)
      vs.foreach(v => assert(
        (u == 0L && v >= 1L && v <= 1000L) || (v == 0L && u >= 1L && u <= 1000L),
        "sampled edges are real edges"))
    }
    // leaves keep their single neighbour — the cap only bites hubs
    (1L to 1000L).foreach(i => assert(byNode(i) == Set(0L)))
  }

  test("exportCloud persists nodes + edges as readable JSON directories") {
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "cloudexport").toString
    Clouds.exportCloud(spark, SF, out)
    val nodes = spark.read.json(s"$out/nodes")
    val edges = spark.read.json(s"$out/edges")
    assert(nodes.count() == Clouds.cloudNodes(spark, SF).count())
    assert(edges.count() == Clouds.cloudEdges(spark, SF).count())
    assert(nodes.columns.toSet == Set("phage", "attrs"))
    assert(edges.columns.toSet == Set("src", "dst", "attrs"))
  }

  test("clustering coefficient: bounded, zero below degree 2, exact vs brute force") {
    val r = rowsOf(Clouds.clusteringCoeff(spark, SF))
    assert(r.nonEmpty)
    // brute-force recompute from the collected thresholded adjacency
    val edges = rowsOf(Clouds.edgesBuild(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .map(e => (e.getLong(0), e.getLong(1))).toSet
    val nbrs = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    r.foreach { row =>
      val (node, deg, tri, cc) = (row.getLong(0), row.getLong(1),
        row.getLong(2), row.getDouble(3))
      assert(cc >= 0.0 && cc <= 1.0)
      val ns = nbrs.getOrElse(node, Set.empty)
      assert(deg == ns.size.toLong, s"node $node degree")
      val pairs = (for {
        a <- ns; b <- ns if a < b
        if edges(math.min(a, b) -> math.max(a, b))
      } yield (a, b)).size
      assert(tri == pairs.toLong, s"node $node triangles")
      if (deg < 2) assert(cc == 0.0)
      else assert(math.abs(cc - 2.0 * tri / (deg * (deg - 1.0))) < 1e-6)
    }
  }

  test("cloud stats partition the node and edge sets exactly, one row per component") {
    val stats = rowsOf(Clouds.cloudStats(spark, SF))
    assert(stats.nonEmpty)
    val g = TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
    assert(stats.map(_.getLong(stats.head.fieldIndex("n_nodes"))).sum ==
      g.nodes.count(), "every node in exactly one cloud")
    assert(stats.map(_.getLong(stats.head.fieldIndex("n_edges"))).sum ==
      g.edges.count(), "every edge in exactly one cloud")
    assert(stats.map(_.getLong(0)).distinct.size == stats.size, "one row per component")
    // the component label is the hash-to-min fixpoint = the component's
    // minimum member id; cross-check against the CC kernel's own output
    val compMin = rowsOf(Clouds.connectedComponents(spark, SF))
      .groupBy(_.getLong(1)).map { case (comp, rows) =>
        comp -> rows.map(_.getLong(0)).min
      }
    stats.foreach { row =>
      assert(row.getLong(row.fieldIndex("min_genome")) <=
        row.getLong(row.fieldIndex("max_genome")))
      val avg = row.getDouble(row.fieldIndex("avg_distance"))
      assert(avg >= 0.0 && avg <= TestGraph.QueryThreshold + 1e-9)
      assert(compMin(row.getLong(0)) == row.getLong(0),
        "component label is the minimum member node id")
    }
  }

  test("assortativity matches a direct integer recomputation from degrees and edges") {
    val deg = rowsOf(Clouds.degrees(spark, SF))
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val es = rowsOf(Clouds.edgesBuild(spark, SF))
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = es.flatMap { case (s, t) => Seq((deg(s), deg(t)), (deg(t), deg(s))) }
    val m = pairs.size.toDouble
    val sxy = pairs.map { case (x, y) => x * y }.sum.toDouble
    val sx = pairs.map(_._1).sum.toDouble
    val sx2 = pairs.map { case (x, _) => x * x }.sum.toDouble
    val expected = (m * sxy - sx * sx) / (m * sx2 - sx * sx)
    val row = rowsOf(Clouds.assortativity(spark, SF)).head
    assert(row.getLong(0) == pairs.size, "n_endpoints = 2 x |edges|")
    val r = row.getDouble(1)
    assert(r >= -1.0 && r <= 1.0, s"Pearson r out of range: $r")
    assert(math.abs(r - expected) < 1.1e-6, s"$r vs hand-computed $expected")
  }

  test("eccentricity: per-seed reach equals the seed's connected component; hop counts match brute BFS") {
    val rows = rowsOf(Clouds.eccentricity(spark, SF))
    assert(rows.size == Clouds.EccSeeds, "one row per seed")
    // brute-force reference BFS on the collected symmetric edge list
    val g = TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
    val adj = rowsOf(g.edges.select("src", "dst"))
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { row =>
      val (seed, nReached, ecc) = (row.getLong(0), row.getLong(1), row.getLong(2))
      var depth = Map(seed -> 0L)
      var frontier = Set(seed)
      var d = 0L
      while (frontier.nonEmpty && d < Clouds.EccMaxRounds) {
        d += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(depth.contains)
        depth ++= frontier.map(_ -> d)
      }
      assert(nReached == depth.size, s"seed $seed reach: $nReached vs ${depth.size}")
      assert(ecc == depth.values.max, s"seed $seed ecc: $ecc vs ${depth.values.max}")
    }
  }

  test("closeness matches brute BFS (r-1)/sum(d) per seed") {
    val rows = rowsOf(Clouds.closeness(spark, SF))
    assert(rows.size == Clouds.EccSeeds, "one row per seed")
    val g = TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
    val adj = rowsOf(g.edges.select("src", "dst"))
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { row =>
      val (seed, nReached, sumD, c) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
      var depth = Map(seed -> 0L)
      var frontier = Set(seed)
      var d = 0L
      while (frontier.nonEmpty && d < Clouds.EccMaxRounds) {
        d += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(depth.contains)
        depth ++= frontier.map(_ -> d)
      }
      assert(nReached == depth.size, s"seed $seed reach: $nReached vs ${depth.size}")
      assert(sumD == depth.values.sum, s"seed $seed sum_d: $sumD vs ${depth.values.sum}")
      val expected =
        if (depth.values.sum > 0) (depth.size - 1).toDouble / depth.values.sum else 0.0
      assert(math.abs(c - expected) < 1.1e-6, s"seed $seed: $c vs $expected")
    }
  }

  test("harmonic centrality matches brute BFS 1/d sums per seed") {
    val rows = rowsOf(Clouds.harmonic(spark, SF))
    assert(rows.size == Clouds.EccSeeds, "one row per seed")
    val g = TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
    val adj = rowsOf(g.edges.select("src", "dst"))
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { row =>
      val (seed, nReached, h) = (row.getLong(0), row.getLong(1), row.getDouble(2))
      var depth = Map(seed -> 0L)
      var frontier = Set(seed)
      var d = 0L
      while (frontier.nonEmpty && d < Clouds.EccMaxRounds) {
        d += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(depth.contains)
        depth ++= frontier.map(_ -> d)
      }
      assert(nReached == depth.size, s"seed $seed reach: $nReached vs ${depth.size}")
      val expected = depth.values.filter(_ > 0)
        .map(Clouds.HarmonicLcm / _).sum.toDouble / Clouds.HarmonicLcm
      assert(math.abs(h - expected) < 1.1e-6, s"seed $seed: $h vs $expected")
    }
  }

  test("modularity matches a direct rational recomputation over label-prop communities") {
    val lbl = rowsOf(Clouds.labelProp(spark, SF))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = rowsOf(TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
      .edges.select("src", "dst"))
      .map(r => (r.getLong(0), r.getLong(1)))
    val m = es.size.toLong
    val eIn = es.count { case (s, t) => lbl(s) == lbl(t) }.toLong
    val deg = es.flatMap { case (s, t) => Seq(s, t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // toSeq: mapping the grouped Map to bare sums would otherwise build a
    // Set and silently dedup equal per-community degree sums
    val dSum = lbl.keys.toSeq.groupBy(lbl).values.map { members =>
      members.map(id => deg.getOrElse(id, 0L)).sum
    }
    val expected = (4.0 * m * eIn - dSum.map(d => d.toDouble * d).sum) / (4.0 * m * m)
    val row = rowsOf(Clouds.modularity(spark, SF)).head
    assert(row.getLong(0) == lbl.values.toSet.size, "community count")
    assert(row.getLong(1) == m && row.getLong(2) == eIn, "edge statistics")
    val q = row.getDouble(3)
    assert(math.abs(q - expected) < 1.1e-6, s"$q vs hand-computed $expected")
    assert(q > 0.0 && q <= 1.0, s"cloud graph must show real community structure: $q")
  }

  test("random walks follow edges, are deterministic, and stop at dead ends") {
    val r = rowsOf(Clouds.randomWalks(spark, SF))
    assert(r.nonEmpty)
    val edges = rowsOf(Clouds.edgesBuild(spark, SF)
      .filter(col("distance") <= TestGraph.QueryThreshold))
      .map(e => (e.getLong(0), e.getLong(1))).toSet
    def connected(a: Long, b: Long): Boolean =
      edges(math.min(a, b) -> math.max(a, b))
    val byWalk = r.groupBy(_.getLong(0))
    assert(byWalk.keySet.size == TestGraph.phageNodes(spark, SF).count(),
      "one walk per node")
    byWalk.foreach { case (wid, rows) =>
      val path = rows.sortBy(_.getInt(1)).map(_.getLong(2))
      assert(path.head == wid, "walk starts at its node")
      // steps are consecutive from 0 (a dead end truncates, never skips)
      assert(rows.map(_.getInt(1)).sorted == (0 until rows.size))
      path.sliding(2).foreach {
        case Seq(a, b) => assert(connected(a, b), s"walk $wid hops a real edge")
        case _ =>
      }
    }
    // determinism: a second run reproduces the identical walk set
    val again = rowsOf(Clouds.randomWalks(spark, SF))
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    assert(again == r.map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet)
  }

  test("walks: image-gated paths are bit-identical to the distributed step loops") {
    // Gates.within(cells = -1) forces the per-step hop-join loop on
    // the same input; edges = -1 forces the DISTRIBUTED image build
    // (the default takes the driver-built image) — all three variants
    // must reproduce the identical row set
    val g = TestGraph.graph(spark, SF)
      .filterEdges(col("distance") <= TestGraph.QueryThreshold)
    val e = g.edges.select(col("src"), col("dst"))
    def rw(mc: Long, cg: Long) = Gates.within(cells = mc, edges = cg) {
      rowsOf(Clouds.randomWalksOnEdges(spark,
          g.nodes, e.localCheckpoint(true), Clouds.WalkLen, Clouds.WalkAdjCap))
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    }
    val rwLocalImg = rw(Long.MaxValue, Long.MaxValue)
    assert(rwLocalImg == rw(Long.MaxValue, -1L), "driver-built == distributed image")
    assert(rwLocalImg == rw(-1L, -1L), "image == step loop")
    def n2v(mc: Long, cg: Long) = Gates.within(cells = mc, edges = cg) {
      rowsOf(Clouds.node2vecOnEdges(spark, g.nodes, e.localCheckpoint(true)))
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    }
    val n2vLocalImg = n2v(Long.MaxValue, Long.MaxValue)
    assert(n2vLocalImg == n2v(Long.MaxValue, -1L), "driver-built == distributed image")
    assert(n2vLocalImg == n2v(-1L, -1L), "image == step loop")
  }

  test("walk cap audit: full agreement under the cap, visible divergence on a planted hub") {
    // registered shape at test SF: every degree sits under WalkAdjCap,
    // so capped and uncapped walks are identical step for step
    val base = rowsOf(Clouds.walkCapAudit(spark, SF))
    assert(base.length == Clouds.WalkLen + 1)
    base.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), "same walk population")
      assert(r.getDouble(4) == 1.0, s"step ${r.getInt(0)}: cap never binds at test SF")
    }
    // planted hub: 200 same-nation customers at equal balance form a
    // complete graph (degree 199 > WalkAdjCap = 64) — the capped walk
    // samples 64 of 199 neighbours per step, so the global hash-argmin
    // survives the sample only ~1/3 of the time and the audit must see
    // the divergence (that detection is the key's whole purpose)
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hubwalk").toString
    (1 to 200).map(i => (i.toLong, s"Customer#$i", 1000.0, 0L, TestGraph.Ncbi))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/customer.parquet")
    val hub = rowsOf(Clouds.walkCapAudit(spark, d))
    val byStep = hub.map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(byStep(0) == 1.0, "step 0 is the start node in both runs")
    assert((1 to Clouds.WalkLen).exists(byStep(_) < 1.0),
      s"a >cap hub must show capped/uncapped divergence: $byStep")
  }

  test("viz export round-trips as JSON with the cloud node attributes") {
    val export = Clouds.vizExport(spark, SF)
    val schema = StructType(Seq(
      StructField("size", org.apache.spark.sql.types.LongType),
      StructField("color", StructType(Seq(
        StructField("border", StringType), StructField("background", StringType))))))
    val parsed = export.select(col("phage"), from_json(col("attrs"), schema).as("a"))
    val nodes = Clouds.cloudNodes(spark, SF)
    val joined = parsed.join(nodes, parsed("phage") === nodes("phage"))
      .filter(col("a.size") =!= col("size") || col("a.color.background") =!= col("color"))
    assert(joined.count() == 0, "JSON attrs must match cloudNodes")
    assert(parsed.filter(col("a").isNull).count() == 0, "all attrs parse")
  }

  test("cloud overlap: harsh host cloud nests inside host cloud, jaccard consistent") {
    val rows = SparkEntry.queries("g_cloud_overlap")(spark, SF).collect()
    assert(rows.length == 3, "three cloud pairs, zero-overlap pairs included")
    val byPair = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    rows.foreach { r =>
      val (na, nb, c) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(c <= math.min(na, nb), "intersection bounded by both sizes")
      val expected = if (na + nb - c > 0)
        BigDecimal(c.toDouble / (na + nb - c))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(r.getDouble(5) == expected, s"jaccard formula replays: $r")
    }
    // the --harsh variant only SHRINKS the seed set, and seed-expand is
    // monotone, so the harsh cloud is a subset of the host cloud
    val hh = byPair(("host", "host_harsh"))
    assert(hh.getLong(4) == hh.getLong(3),
      "host_harsh ⊆ host: the intersection is the harsh cloud itself")
  }

  test("shared forest layer: one Borůvka run feeds mst, mst_weight and the sweep") {
    import graft.graph.Clouds
    // the production contract from forestLayer's scaladoc: materialize
    // the forest + component layer ONCE, fan it out to all three
    // consumers — and get bit-identical results to the rebuild-per-key
    // registry path
    val shared = Clouds.forestLayer(spark, SF)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Clouds.mstOn(shared)) == rows(Clouds.mst(spark, SF)),
      "forest edge list agrees")
    assert(rows(Clouds.mstWeightOn(shared)) == rows(Clouds.mstWeight(spark, SF)),
      "per-cloud weight report agrees")
    assert(rows(Clouds.thresholdSweepOn(shared)) ==
      rows(Clouds.thresholdSweep(spark, SF)), "threshold census agrees")
  }

  test("threshold sweep: single-linkage identity against direct CC per cut") {
    import graft.graph.{Algorithms, Clouds, TestGraph}
    val rows = SparkEntry.queries("g_threshold_sweep")(spark, SF).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == Clouds.SweepThresholds.toSet)
    val g = TestGraph.graph(spark, SF)
    Clouds.SweepThresholds.foreach { t =>
      // independent yardstick: CC over the FULL thresholded edge set
      val cc = Algorithms.connectedComponents(
        g.nodes.select(col("id")),
        g.edges.filter(col("distance") <= t).select(col("src"), col("dst")))
      val szs = cc.groupBy(col("comp")).count().collect().map(_.getLong(1))
      assert(rows(t) == ((szs.length.toLong, szs.max, szs.count(_ == 1L).toLong)),
        s"forest-cut census must equal full-graph CC census at t=$t")
    }
    // monotonicity: loosening the cut only merges clouds
    val sorted = Clouds.SweepThresholds.map(rows)
    assert(sorted.map(_._1).sliding(2).forall(p => p.head >= p.last),
      "cloud count is non-increasing in the threshold")
  }
}
