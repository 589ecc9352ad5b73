package graft

import graft.graph.Clouds
import org.apache.spark.sql.DataFrame

/** Checkpoint-LIFECYCLE audit for the loop/adjacency kernels: every
  * eager `localCheckpoint(true)` pins executor blocks until explicitly
  * released, and a kernel that returns with internal checkpoints still
  * pinned leaks them for the session (harmless at fixture scale, an
  * eviction-thrash source at 100 TB — the r13/r15 ADVICE class). The
  * contract asserted here: after a kernel's output is materialized,
  * the ONLY persistent RDDs it may leave behind are the ones its own
  * returned plan references (its final eager checkpoint); every
  * internal per-step / adjacency / index checkpoint must be gone. No
  * broadcast the kernel created may outlive it either: an adjacency
  * image is destroyed inside the image tier, and one that a lazy
  * result still references survives GC and fails here. */
class ReleaseAuditSpec extends SparkSpec {

  /** RDD ids the frame's own plan pins — the output's checkpoints,
    * including any sitting behind a rebase/freshStats wrapper (hence
    * the full lineage walk, not just the LogicalRDD roots). */
  private def ckIds(df: DataFrame): Set[Int] = {
    val ids = scala.collection.mutable.Set.empty[Int]
    def walk(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      if (ids.add(rdd.id)) rdd.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd)
      case _ => ()
    }
    ids.toSet
  }

  /** Monitor signalled by the ContextCleaner each time an RDD's or a
    * broadcast's blocks finish cleaning — the audit waits on REAL
    * cleanup events instead of GC-poll sleeps (r16 ADVICE: 75 × 200 ms
    * polling was slow and GC-timing flaky). One listener for the whole
    * suite. */
  private object cleanedSignal {
    @volatile private var attached = false
    def ensureAttached(): Unit = synchronized {
      if (!attached) {
        org.apache.spark.GraftCleanerHook.onCleaned(spark.sparkContext) {
          synchronized { notifyAll() }
        }
        attached = true
      }
    }
    /** Wait up to `ms` for the next cleanup event (or timeout). */
    def awaitEvent(ms: Long): Unit = synchronized { wait(ms) }
  }

  private def assertReleased(label: String)(op: => DataFrame): Unit = {
    cleanedSignal.ensureAttached()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val bcBefore = org.apache.spark.GraftCleanerHook.liveBroadcasts(sc)
    val out = op
    out.count() // materialize through the caller's action
    def leakedNow(): Set[Int] =
      sc.getPersistentRDDs.keySet.toSet -- before -- ckIds(out)
    def bcLeakedNow(): Set[Long] =
      org.apache.spark.GraftCleanerHook.liveBroadcasts(sc) -- bcBefore
    var leaked = leakedNow()
    var bcLeaked = bcLeakedNow()
    // a pin with no live reference (e.g. a kernel-internal checkpoint
    // whose frame went out of scope, or a stage's task binary) is
    // collected by Spark's ContextCleaner on GC — request a GC and then
    // wait on the cleaner's OWN cleanup events (bounded, but returns
    // the moment cleanup lands) so the audit fails only on LIVE pins,
    // the actual session-lifetime leak class
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((leaked.nonEmpty || bcLeaked.nonEmpty) && System.nanoTime() < deadline) {
      System.gc()
      cleanedSignal.awaitEvent(500)
      leaked = leakedNow()
      bcLeaked = bcLeakedNow()
    }
    assert(leaked.isEmpty,
      s"$label leaves ${leaked.size} LIVE persistent RDDs beyond its own " +
        s"output (survived GC + ContextCleaner): " +
        leaked.toSeq.sorted.mkString(", "))
    assert(bcLeaked.isEmpty,
      s"$label leaves ${bcLeaked.size} LIVE broadcasts (survived GC + " +
        s"ContextCleaner): " + bcLeaked.toSeq.sorted.mkString(", "))
    graph.Algorithms.releaseIterate(out) // keep the suite itself clean
  }

  test("walk kernels release every per-step checkpoint and the adjacency") {
    assertReleased("g_random_walk")(Clouds.randomWalks(spark, SF))
    assertReleased("g_node2vec_walks")(Clouds.node2vecWalks(spark, SF))
  }

  test("the jaccard family releases its 2|E| adjacency input on every branch") {
    assertReleased("g_neighbor_jaccard (image branch)")(
      Clouds.neighborJaccard(spark, SF))
    Gates.within(cells = 0L) {
      assertReleased("g_neighbor_jaccard (join branch)")(
        Clouds.neighborJaccard(spark, SF))
    }
    assertReleased("g_neighbor_jaccard_capped")(
      Clouds.neighborJaccardCapped(spark, SF))
    assertReleased("g_link_pred")(Clouds.linkPrediction(spark, SF))
  }

  test("the image-tier kernels leave no adjacency image behind") {
    assertReleased("g_truss_support")(Clouds.trussSupport(spark, SF))
    assertReleased("g_square_count")(Clouds.squareCount(spark, SF))
    assertReleased("g_betweenness")(Clouds.betweenness(spark, SF))
    assertReleased("g_coreness")(Clouds.corenessShells(spark, SF))
    assertReleased("g_eccentricity")(Clouds.eccentricity(spark, SF))
    Gates.within(edges = 0L) { // the distributed peel: one image a round
      assertReleased("g_ktruss (round loop)")(Clouds.kTrussEdges(spark, SF))
    }
  }

  test("the bucketed eps-pair generator releases its vector and index checkpoints") {
    assertReleased("epsPairsBucketed")(
      pipeline.Similarity.epsPairsBucketed(spark, SF, 0.3))
  }

  test("the threshold sweep and linkage census stay release-clean (regression)") {
    assertReleased("g_threshold_sweep")(Clouds.thresholdSweep(spark, SF))
    assertReleased("s_linkage_census")(pipeline.Similarity.linkageCensus(spark, SF))
  }

  test("the r16 fleet-sweep offenders stay release-clean") {
    // a one-time sweep of all 196 registry keys (r16) found live pins
    // in exactly these four; each got an explicit release — keep them
    // pinned clean here
    assertReleased("g_shortest_paths")(Clouds.shortestPaths(spark, SF))
    assertReleased("s_knn_graph")(pipeline.Similarity.knnGraph(spark, SF))
    assertReleased("s_nn_descent")(pipeline.Similarity.nnDescentGraph(spark, SF))
    assertReleased("t_bpe_encode")(pipeline.Text.bpeEncode(spark, SF))
  }

  test("the cloud CLI releases its one build in all three modes") {
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "cloud_release").toString
    Seq(Seq("-t", graph.TestGraph.Taxon, "--html", s"$out/tax.html"),
      Seq("-f", graph.TestGraph.Family, "-t", "genus"),
      Seq("-g", graph.TestGraph.HostGenus, "--harsh")).zipWithIndex.foreach {
      case (flags, i) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        Cloud.run(spark, Cloud.parseArgs(flags ++ Seq("--data", SF, "--out", s"$out/$i")))
        val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        assert(left.isEmpty, s"Cloud ${flags.head} leaves persistent RDDs $left")
    }
  }
}
