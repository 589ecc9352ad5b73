package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // hash-impl A/B knob (SPARK_GRAFT_HASH=xxhash64): swaps the fleet's
    // 60-bit hash to the production impl — see graft.Hashing.hash60.
    // Oracle comparisons only hold in the md5 default; this knob exists
    // for the same-window perf A/B protocol.
    sys.env.get("SPARK_GRAFT_HASH").foreach(h =>
      spark.conf.set("graft.hash.impl", h))
    // JIT warmup at the smallest SF (~15 s): first-run timings were
    // dominated by JVM compilation (observed 2× swings on the iterative
    // loops); steady-state is what a long-running cluster job sees.
    // Disable with SPARK_GRAFT_WARMUP=0.
    val warmKeys = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      val warmDir = "/root/testdata/sf0.001"
      if (new java.io.File(warmDir).isDirectory)
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (k, _) => warmKeys.forall(_.contains(k)) }
          .foreach { case (_, fn) =>
            try fn(spark, warmDir).count() catch { case _: Throwable => () }
          }
      // Second-stage warmup at sf0.01 for the ITERATIVE loop kernels:
      // the sf0.001 pass compiles the per-round codegen once, but the
      // loop keys' run-1 at the benched SF still carried most of the
      // JIT tail (BENCH_r20 spreads: g_threshold_sweep 81.5 s over 5
      // runs, g_mst_weight 47.5, g_louvain 41.6 — pure first-run
      // compilation on otherwise-stable keys, r20 verdict issue #3).
      // One extra pass at 10× the warm SF runs enough rounds to reach
      // steady state before run 1. Untimed, outside every sample;
      // format and knobs unchanged; SPARK_GRAFT_WARMUP=0 skips both
      // stages. Keys: the iterative-kernel families whose BENCH_r20
      // spread exceeded ~25% of their median.
      val loopWarmKeys = Set(
        "g_threshold_sweep", "g_mst", "g_mst_weight", "g_community_refine",
        "g_louvain", "g_louvain_weighted", "g_shortest_paths", "g_link_pred",
        "s_kmeans", "g_cloud_stats", "g_neighbor_jaccard_capped",
        "g_harmonic", "s_linkage_census", "d_dup_inflation", "d_minhash_est",
        "s_ivfpq_ann", "g_coreness", "g_walk_cap_audit", "s_recall_curve",
        "g_ktruss", "g_eccentricity", "g_khop_reach", "d_dedup_clusters",
        "g_connected_components", "s_dbscan")
      val warmDir2 = "/root/testdata/sf0.01"
      if (new java.io.File(warmDir2).isDirectory)
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (k, _) =>
            loopWarmKeys.contains(k) && warmKeys.forall(_.contains(k)) }
          .foreach { case (_, fn) =>
            try fn(spark, warmDir2).count() catch { case _: Throwable => () }
          }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // A failed query must not be recorded as a fast run: keep timing and
    // error separately so a regression shows up as an error, not a speedup.
    // Each query is timed `runs` times POST-warmup and the per-query MEDIAN
    // is reported: single-run numbers on the iterative loops carried ±2×
    // scheduler/GC noise, which made round-over-round deltas unreadable
    // (r4's CC "regression" was exactly this). Runs interleave by PASS
    // (q1,q2,...,q1,q2,...) rather than back-to-back so a transient GC/JIT
    // hiccup lands on different queries in different passes instead of
    // poisoning all runs of one query. Default 5 — SURVEY §4.12's own
    // minimum for claims on JIT-heavy keys; the shipped artifact must
    // reproduce the rule it documents.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt
    // SPARK_GRAFT_ONLY (comma-separated keys) lets a dev re-bench one
    // query under the EXACT bench conditions (same session conf, warmup).
    val keys = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => warmKeys.forall(_.contains(k)))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // JVM-wide GC time per query sample: collector-bean deltas around the
    // action. Identical bytes have measured 2× median-of-5 swings between
    // bench invocations; attributing wall time to GC vs compute is the
    // first split any variance hunt needs.
    val gcSec = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    def gcMillisNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    for (_ <- 1 to runs; name <- keys) {
      val fn = SparkEntry.queries(name)
      val g0 = gcMillisNow()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
      }
      samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples(name)
      gcSec(name) = ((gcMillisNow() - g0) / 1e3) :: gcSec(name)
      // drop the finished query's localCheckpoint blocks: nothing
      // references them once the count returned, but left in place they
      // accumulate across 200+ executions and the block-manager/GC
      // pressure inflates later queries (pagerank measured 10.2 s late
      // in a full session vs 4.2 s isolated — same code)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = keys.map(k => k -> median(samples(k)))
    val qs = results.map { case (k, v) => Json.q(k) + ":" + v }
      .mkString("{", ",", "}")
    // min + spread (max − min) per query alongside the median: a stable
    // query has spread ≪ median; a round-over-round delta smaller than
    // the spread is noise, not signal — emitting both makes that call
    // mechanical instead of folklore
    def field(f: List[Double] => Double): String =
      keys.map(k => Json.q(k) + ":" + f(samples(k))).mkString("{", ",", "}")
    val minsJson = field(_.min)
    val spreadsJson = field(xs => xs.max - xs.min)
    val gcJson = keys.map(k => Json.q(k) + ":" + median(gcSec(k)))
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${Json.q(k)}:${Json.q(v)}" }
      .mkString("{", ",", "}")
    val total = results.filter { case (k, _) => !errors.contains(k) }.map(_._2).sum
    // raw per-pass samples only on SPARK_GRAFT_ONLY debug runs — the
    // driver's full-fleet JSON line stays compact
    val samplesJson =
      if (warmKeys.isDefined)
        s""","samples":${keys.map(k =>
          Json.q(k) + ":" + samples(k).reverse.mkString("[", ",", "]"))
          .mkString("{", ",", "}")}"""
      else ""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"mins":$minsJson,"spreads":$spreadsJson,"gc_sec":$gcJson,"errors":$errJson,"n_errors":${errors.size}$samplesJson,"sf":"$sfDir"}"""
    // Clean stdout AND a file: the driver's tail parse of sbt-noisy
    // stdout yielded "parsed": null in r16/r17 because session shutdown
    // logging landed AFTER the line — stop the session first, then print
    // (the committed artifact of record stays bench_out.json either way).
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), line)
    spark.stop()
    println(line)
    // The driver captures only a 2,000-char stdout TAIL: the full
    // 196-key line is ~22 KB, so even as the last line it arrives
    // decapitated and parses null (r19 nit #1 — even a mins-only map
    // is 4.3 KB). The LAST line is therefore a compact headline that
    // fits the window whole — total + min-sum + run shape + a pointer
    // to the full artifact; per-query data lives in the file and in the
    // full line above for anyone parsing complete stdout.
    val minSum = keys.filterNot(errors.contains).map(samples(_).min).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""min_sum":$minSum,"runs":$runs,"n_queries":${keys.size},""" +
      s""""n_errors":${errors.size},"sf":${Json.q(sfDir)},""" +
      s""""artifact":${Json.q(artifact)}}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
