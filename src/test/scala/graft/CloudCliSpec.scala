package graft

/** Smoke coverage for the [[Cloud]] reference-parity CLI: each of the
  * three modes (taxon / family / host — the three reference scripts)
  * parses its flag set and writes non-empty node/edge viz JSON over
  * the sf0.001 corpus, and the flag overloads dispatch correctly. At
  * each mode's own default threshold, the written JSON holds exactly
  * the views' nodes and edges, and the taxon page embeds them. */
class CloudCliSpec extends SparkSpec {
  private def tmpOut(tag: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), s"cloudcli_$tag").toString

  private def jsonLines(path: String): Long =
    spark.read.json(path).count()

  test("flag parsing: the three reference flag sets dispatch to the right mode") {
    val t = Cloud.parseArgs(Seq("-t", "Tequatrovirus", "-d", "0.15"))
    assert(t.taxon.contains("Tequatrovirus") && t.dist.contains(0.15)
      && t.family.isEmpty && t.host.isEmpty)
    val f = Cloud.parseArgs(Seq("-f", "Herelleviridae", "-t", "genus"))
    assert(f.family.contains("Herelleviridae") && f.taxon.contains("genus"))
    val h = Cloud.parseArgs(Seq("-g", "Cellulophaga", "--thres", "0.25", "--harsh"))
    assert(h.host.contains("Cellulophaga") && h.harsh
      && h.taxon.contains("0.25"), "host-mode -t/--thres rides the shared slot")
    intercept[IllegalArgumentException](Cloud.parseArgs(Seq("--bogus")))
  }

  test("taxon mode writes node/edge viz JSON (reference gdb.py surface)") {
    val out = tmpOut("tax")
    val written = Cloud.run(spark, Cloud.parseArgs(Seq(
      "-t", graph.TestGraph.Taxon, "-d", "0.10", "--data", SF, "--out", out)))
    assert(written.toSet == Set(s"$out/nodes", s"$out/edges"))
    assert(jsonLines(s"$out/nodes") > 0, "taxon cloud nodes written")
    assert(jsonLines(s"$out/edges") > 0, "taxon cloud edges written")
    val node = spark.read.json(s"$out/nodes").columns.toSet
    assert(node == Set("phage", "attrs"), s"pyvis attr blob schema: $node")
  }

  test("family mode colours by rank and writes the induced edges") {
    val out = tmpOut("fam")
    val written = Cloud.run(spark, Cloud.parseArgs(Seq(
      "-f", graph.TestGraph.Family, "-t", "subfamily", "-d", "0.10",
      "--data", SF, "--out", out)))
    assert(written.size == 2)
    val nodes = spark.read.json(s"$out/nodes")
    assert(nodes.count() > 0 && nodes.columns.toSet ==
      Set("phage", "color", "size", "title"))
    assert(jsonLines(s"$out/edges") > 0)
    // the -t overload rejects a non-rank value in family mode
    intercept[IllegalArgumentException] {
      Cloud.run(spark, Cloud.parseArgs(Seq(
        "-f", graph.TestGraph.Family, "-t", "NotARank", "--data", SF)))
    }
  }

  test("host mode honors --harsh and the hex source palette") {
    val out = tmpOut("host")
    Cloud.run(spark, Cloud.parseArgs(Seq(
      "-g", graph.TestGraph.HostGenus, "-t", "0.10", "--harsh",
      "--data", SF, "--out", out)))
    val nodes = spark.read.json(s"$out/nodes")
    assert(nodes.count() > 0)
    import org.apache.spark.sql.functions.col
    val colors = nodes.select(col("color")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(colors.subsetOf(Set("#8acb4a", "#39dede", "#f1e653",
      "#9b4aed", "#c734df", "#ffffff")), s"host palette only: $colors")
  }

  test("each mode at its default threshold writes exactly the views' cloud, taxon --html too") {
    import graph.{Clouds, TestGraph}
    import org.apache.spark.sql.DataFrame
    def ids(df: DataFrame): Set[Long] = df.collect().map(_.getAs[Long]("phage")).toSet
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    // (flags without -d/-t threshold, the views at the CLI default)
    val modes = Seq(
      ("tax", Seq("-t", TestGraph.Taxon),
        Clouds.cloudNodes(spark, SF, TestGraph.Taxon, 0.25),
        Clouds.cloudEdges(spark, SF, TestGraph.Taxon, 0.25)),
      ("fam", Seq("-f", TestGraph.Family, "-t", "subfamily"),
        Clouds.familyNodes(spark, SF, TestGraph.Family, 0.15),
        Clouds.familyEdges(spark, SF, TestGraph.Family, 0.15)),
      ("host", Seq("-g", TestGraph.HostGenus),
        Clouds.hostCloud(spark, SF, harsh = false, TestGraph.HostGenus, 0.25),
        Clouds.hostEdges(spark, SF, harsh = false, TestGraph.HostGenus, 0.25)))
    modes.foreach { case (tag, flags, nodes, edges) =>
      val out = tmpOut(s"default_$tag")
      val html = s"$out/cloud.html"
      val extra = if (tag == "tax") Seq("--html", html) else Nil
      val written = Cloud.run(spark, Cloud.parseArgs(
        flags ++ Seq("--data", SF, "--out", out) ++ extra))
      assert(written.toSet == Set(s"$out/nodes", s"$out/edges") ++ extra.drop(1), tag)
      val (wroteNodes, wroteEdges) =
        (ids(spark.read.json(s"$out/nodes")), pairs(spark.read.json(s"$out/edges")))
      assert(wroteNodes.nonEmpty && wroteEdges.nonEmpty, s"$tag: non-empty cloud")
      assert(wroteNodes == ids(nodes), s"$tag: written nodes equal the view")
      assert(wroteEdges == pairs(edges), s"$tag: written edges equal the view")
      if (tag == "tax") {
        val page = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(html)), "UTF-8")
        assert(page.split("\"label\":").length - 1 == wroteNodes.size, "page nodes")
        assert(page.split("\"from\":").length - 1 == wroteEdges.size, "page edges")
      }
    }
  }
}
