package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, TestGraph}

/** Above-sf0.1 scale evidence for the iterative graph kernels.
  *
  * The driver generates testdata up to sf0.1 (15k genomes / ~0.8M
  * thresholded edges); this main synthesizes the SAME graph shape at
  * arbitrary node counts — no driver data needed, because the
  * [[graft.graph.TestGraph]] mapping is itself deterministic: nodes
  * 0..n−1, group key = id mod 25 (the nation analogue), a hash-uniform
  * "acctbal" over the [[TestGraph.DistanceNorm]] span, and the
  * same-group similarity-edge rule `|Δ|/norm ≤ threshold`. Mean degree
  * therefore grows LINEARLY with n (nations are a fixed dimension —
  * that is the data model, not an artifact), so sf1 ≈ 150k nodes /
  * ~85M edges is a genuinely ×100 edge load over sf0.1.
  *
  * Runs each kernel ONCE (these are multi-minute jobs at sf1; the
  * bench-noise protocol's min-of-5 is for the sub-10 s sf0.1 fleet)
  * and prints one JSON line with per-kernel wall seconds + graph
  * stats. `SPARK_GRAFT_SCALE_NODES` overrides the node count.
  */
object ScaleBench {

  /** The TestGraph edge rule over synthetic nodes: same-group pairs
    * with hash-uniform balances within the query threshold. The group
    * self-join shuffles each side once on the group key — the same
    * bucketed-candidate build [[TestGraph.sharesDna]] documents. */
  def syntheticEdges(spark: SparkSession, n: Long, groups: Int): DataFrame = {
    val ids = spark.range(n).select(col("id"))
    // hash-uniform balance over [0, DistanceNorm): md5-prefix hash (the
    // corpus-wide deterministic-sampling idiom) scaled from 2^60
    val bal = (Hashing.md5Hash60(col("id").cast("string")).cast("double") /
      lit(math.pow(2.0, 60))) * TestGraph.DistanceNorm
    val m = ids.select(col("id"), (col("id") % groups).as("grp"), bal.as("bal"))
    val a = m.select(col("id").as("src"), col("grp"), col("bal").as("abal"))
    val b = m.select(col("id").as("dst"), col("grp"), col("bal").as("bbal"))
    a.join(b, Seq("grp"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"),
        (abs(col("abal") - col("bbal")) / TestGraph.DistanceNorm).as("distance"))
      .filter(col("distance") <= TestGraph.QueryThreshold)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_NODES", "150000").toLong
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    // SPARK_GRAFT_JIT_AUDIT=1: recompile every action's executed plan
    // (incl. each loop round's localCheckpoint) and fail on methods in
    // HotSpot's interpreted-but-not-fallback gap — see [[JitAudit]]
    val jit = JitAudit.attachIf(
      sys.env.get("SPARK_GRAFT_JIT_AUDIT").contains("1"), spark)

    val nodes = spark.range(n).select(col("id")).localCheckpoint(true)
    val t0 = System.nanoTime()
    // SERIALIZED shared input: every kernel scans this frame with all
    // 32 cores, and 32 readers PIN their in-memory blocks — a
    // deserialized 85M-row cache (~3× the serialized bytes) can pin
    // most of the unified pool and starve the reading stage's own
    // execution memory (measured: r13's louvain/coreness OOM hunts all
    // traced back to this mechanism)
    val edges = syntheticEdges(spark, n, 25).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nEdges = edges.count()
    val buildSec = (System.nanoTime() - t0) / 1e9

    // the shared inputs' checkpoint blocks must survive the per-kernel
    // cleanup (a blanket unpersist would truncate their lineage for the
    // NEXT kernel); everything else a kernel leaves behind is dropped
    val protectedIds: Set[Int] = Seq(nodes, edges).flatMap(
      _.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }).toSet
    // optional comma-separated kernel filter, so a single kernel's
    // 15k/150k row pair can be (re)measured without paying the full
    // multi-minute fleet at sf1
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_KERNELS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val allKernels = scala.collection.mutable.LinkedHashSet.empty[String]
    def timed(name: String)(df: => DataFrame): Unit = {
      allKernels += name
      if (only.forall(_.contains(name))) {
        val s = System.nanoTime()
        val rows = df.count()
        times(name) = (System.nanoTime() - s) / 1e9
        System.err.println(f"[scale] $name: ${times(name)}%.1f s ($rows rows)")
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => protectedIds.contains(id) }
          .values.foreach(_.unpersist(blocking = true)) // blocking: the
          // NEXT kernel's first aggregate must not land under this
          // one's still-resident blocks (measured: coreness OOM'd
          // seconds after a 557 s refine under async cleanup)
      }
    }

    timed("connected_components") {
      Algorithms.connectedComponents(nodes, edges)
    }
    timed("pagerank") {
      Algorithms.pageRank(nodes, edges)
    }
    timed("label_prop") {
      Algorithms.labelPropagation(nodes, edges)
    }
    timed("kcore") {
      Algorithms.kCore(nodes, edges, k = 3)
    }
    timed("bfs_hops") {
      Algorithms.hopDistances(nodes.filter(col("id") < 4),
        edges.select(col("src"), col("dst"))
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))),
        maxRounds = 16)
    }
    timed("betweenness_sampled") {
      graft.graph.Clouds.betweennessKernel(nodes,
        edges.select(col("src"), col("dst"))
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))))
    }
    timed("boruvka_mst") {
      Algorithms.boruvkaMst(nodes,
        edges.select(col("src").as("u"), col("dst").as("v"),
          col("distance").as("w")))._1
    }
    timed("louvain") {
      Algorithms.louvain(nodes, edges, canonicalDistinct = true)
    }
    timed("community_refine") {
      // the g_community_refine composition, fused: the level-1
      // symmetric layer is built once and shared between the ΔQ rounds
      // and the intra-community CC
      Algorithms.louvainRefine(nodes,
        edges.select(col("src"), col("dst")), canonicalDistinct = true)
    }
    timed("coreness") {
      Algorithms.coreness(nodes, edges, nSymHint = 2L * nEdges)
    }
    timed("eigen_walks") {
      Algorithms.walkCounts(nodes, edges, nSymHint = 2L * nEdges)
    }
    // the truss pair pins a broadcast adjacency image per result —
    // destroy each once counted so later kernels get the heap back
    // (broadcast blocks are invisible to the persistent-RDD sweep)
    var trussBc: Option[org.apache.spark.broadcast.Broadcast[_]] = None
    timed("truss_support") {
      val (df, bc) = Algorithms.edgeSupportImg(
        edges.select(col("src").as("u"), col("dst").as("v")),
        symCellsHint = 2 * nEdges)
      trussBc = bc
      df
    }
    trussBc.foreach(_.destroy()); trussBc = None
    timed("ktruss") {
      // dense-blob caveat: the synthetic same-group blobs barely peel
      // at k=4 (support ≈ blob size), so this measures the
      // fixpoint-detect cost (2 support passes) rather than a long
      // peel — the per-round cost is the truss_support row above
      val (df, bc) = Algorithms.kTrussImg(
        edges.select(col("src"), col("dst")), k = 4)
      trussBc = bc
      df
    }
    trussBc.foreach(_.destroy())
    var sqBc: Option[org.apache.spark.broadcast.Broadcast[_]] = None
    timed("square_count") {
      // the g_square_count image path: zero-exchange census over the
      // broadcast CSR adjacency (Σdeg² cells as a narrow map)
      val (df, bc) = Algorithms.squareCensusImg(
        edges.select(col("src").as("u"), col("dst").as("v")))
      sqBc = Some(bc)
      df
    }
    sqBc.foreach(_.destroy()); sqBc = None
    timed("neighbor_jaccard") {
      // image-path pair emission, COUNTED not checkpointed: on the
      // dense-blob synthetic every within-blob pair clears τ=0.3, so
      // the qualifying-pair volume itself is the dominant term here
      // (a real similarity graph's τ filter prunes far harder)
      val (df, bc) = Algorithms.jaccardPairsImg(
        edges.select(col("src").as("node"), col("dst").as("nbr"))
          .unionByName(edges.select(col("dst").as("node"), col("src").as("nbr"))),
        minSim = 0.3)
      sqBc = Some(bc)
      df
    }
    sqBc.foreach(_.destroy()); sqBc = None
    timed("rich_club") {
      graft.graph.Clouds.richClubOnCanon(spark,
        edges.select(col("src").as("u"), col("dst").as("v")))
    }
    timed("node2vec") {
      // the g_node2vec_walks step loop over the synthetic shape:
      // capped adjacency + per-step biased choice + triangle probe
      graft.graph.Clouds.node2vecOnEdges(spark,
        nodes, edges.select(col("src"), col("dst")))
    }
    timed("threshold_sweep") {
      // the g_threshold_sweep composition: one Borůvka forest, then
      // nested CC cuts contracted by the previous cut's components
      val (forest, fullComp) = Algorithms.boruvkaMst(nodes,
        edges.select(col("src").as("u"), col("dst").as("v"),
          col("distance").as("w")))
      var prev: DataFrame = null
      var prevT = Double.NegativeInfinity
      // sub-threshold cuts at 25/50/75% of the edge-build threshold
      // (the synthetic distances all sit below QueryThreshold)
      val cuts = Seq(0.25, 0.5, 0.75)
          .map(_ * TestGraph.QueryThreshold).map { t =>
        val cc = Algorithms.nestedCut(nodes, prev,
          forest.filter(col("w") > prevT && col("w") <= t)
            .select(col("u").as("src"), col("v").as("dst")))
        prev = Algorithms.freshStats(cc).localCheckpoint(true)
        prevT = t
        prev.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .agg(lit(t).as("threshold"), count(lit(1)).as("n_clouds"))
      }
      cuts.reduce(_ unionByName _)
        .unionByName(fullComp.groupBy(col("c")).agg(count(lit(1)).as("sz"))
          .agg(lit(1.0).as("threshold"), count(lit(1)).as("n_clouds")))
    }
    timed("sssp") {
      Algorithms.shortestPaths(nodes,
        edges.withColumnRenamed("distance", "weight")
          .select(col("src"), col("dst"), col("weight"))
          .unionByName(edges.select(col("dst").as("src"),
            col("src").as("dst"), col("distance").as("weight"))),
        nodes.filter(col("id") < 8))
    }

    // fail loudly on a misspelled (or empty) kernel filter — an empty
    // kernels map must never be mistaken for a clean run
    only.foreach { names =>
      val unknown = names -- allKernels
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_KERNELS entries matched no kernel: " +
          s"${unknown.toSeq.sorted.mkString(",")} (known: " +
          s"${allKernels.mkString(",")})")
    }
    val qs = times.map { case (k, v) => Json.q(k) + ":" + v }
      .mkString("{", ",", "}")
    // the report must read the bus counters BEFORE the session stops
    val verdict = jit.map(JitAudit.report(_, spark))
    val jitJson = verdict.map("," + _.json).getOrElse("")
    // stop FIRST, then print: session-shutdown logging after the JSON
    // line is what corrupted the driver's stdout-tail parse of Bench
    // in r16/r17 (same emit-last-line rule here)
    spark.stop()
    println(s"""{"metric":"scale_graph","n_nodes":$n,"n_edges":$nEdges,""" +
      s""""build_sec":$buildSec,"kernels":$qs$jitJson}""")
    // exit 3 = offenders found; exit 4 = the audit itself is
    // UNCERTIFIED (a thrown inspection, a starved feed, or dropped bus
    // events — an uninspected plan cannot be certified under-ceiling)
    verdict.foreach { v =>
      if (v.offenders > 0) sys.exit(3)
      if (!v.certified) sys.exit(4)
    }
  }
}
