package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import graft.Gates
import org.apache.spark.sql.functions._

/** Iterative graph algorithms on DataFrames.
  *
  * The reference's "clouds" (phageclouds_gdb.py) are connected components
  * of the distance-thresholded sharesDNA graph. Neo4j walks them; at
  * 100 TB the Spark-native answer is an O(log² n)-round alternating
  * star-contraction loop ([[connectedComponents]]) with per-iteration
  * `localCheckpoint` to cut lineage.
  *
  * Loop discipline (the 100 TB rules this file follows):
  *   - the edge input is checkpointed ONCE — upstream plans (e.g. the
  *     similarity self-join) must never re-execute inside the loop;
  *   - exactly one Spark action per iteration (the eager checkpoint);
  *     any convergence probe or scalar aggregate reads the checkpointed
  *     result, or is folded into the plan as a broadcast 1-row join;
  *   - the working set per iteration is the minimal (id, label/dist)
  *     projection, never the property payload.
  */
object Algorithms {

  /** SSSP loop defaults. MaxRounds × RelaxPerRound is the relaxation
    * budget; the DuckDB oracle unrolls exactly this many stages so the
    * two engines report the same iterate even if some scale factor's
    * graph has shortest-path trees deeper than the budget.
    *
    * 2 relaxations/round is the measured optimum at sf0.1/local[32]
    * (medians of 5, same budget=64): (32 rounds × 2) = 10.5 s vs
    * (16 × 4) = 11.2 s — past 2, the unrolled per-round plan (each
    * relaxation references the previous iterate twice) grows faster
    * than the action count shrinks, even with AQE exchange reuse. */
  val MaxRounds = 32
  val RelaxPerRound = 2
  val RelaxBudget: Int = MaxRounds * RelaxPerRound

  /** Target shuffle rows per partition inside the SSSP loop. Small on
    * purpose: a loop partition holds ~24-byte (id, dist) pairs plus an
    * edge slice, so 64k rows ≈ 1-2 MB — sized for task-launch cost, not
    * memory. On big graphs the defaultParallelism clamp governs. */
  private val LoopRowsPerPartition = 64000L

  /** Shuffle width for a loop iterating over `rows`-row inputs: enough
    * partitions to keep ~[[LoopRowsPerPartition]] rows each, clamped to
    * the cluster's parallelism. At 100 TB this resolves to the full
    * cluster width; on a small graph it collapses to a handful of
    * partitions so a 30-round loop doesn't schedule thousands of
    * near-empty tasks. */
  private def loopWidth(spark: org.apache.spark.sql.SparkSession, rows: Long): Int =
    math.max(2, math.min(spark.sparkContext.defaultParallelism,
      math.ceil(rows.toDouble / LoopRowsPerPartition).toInt))

  /** A dedicated session for an iterative loop: cloned conf with the
    * shuffle width pinned to `width` and AQE's coalescer off. The width
    * is sized once from the actual edge count instead of per round by
    * the coalescer: re-planning every tiny exchange on every round was
    * measured as the dominant per-round fixed cost at small SF
    * (~32 rounds × ~6 exchanges). AQE itself stays ON — its runtime
    * stage reuse still deduplicates repeated subtrees in the iterate
    * plans.
    *
    * Session conf is session-global, so the pin lives on a
    * `spark.newSession()` clone (same SparkContext, same extensions,
    * private conf): the caller's session — and anything running on it
    * concurrently — never observes the loop's width. Datasets plan
    * under the session they are BOUND to, so loop inputs must be
    * [[rebase]]d into this session for the pin to take effect.
    *
    * Used by [[shortestPaths]], whose frontier SHRINKS as the wavefront
    * passes (the coalescer's per-round sizing decisions are wasted
    * there). Deliberately NOT used by [[connectedComponents]] /
    * [[pageRank]]: their rounds reference the previous iterate more
    * than once, and benchmarking (the former hash-to-min CC loop,
    * 14.2 s pinned vs 6.5 s adaptive at sf0.1) showed such
    * dual-referenced stages reuse better under fully-adaptive
    * planning. */
  private def loopSession(spark: org.apache.spark.sql.SparkSession, width: Int)
      : org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    s
  }

  /** Re-root an (already materialized — pass a checkpointed input) frame
    * into `session`, so downstream plans pick up that session's conf.
    * One narrow pass over the checkpointed partitions; no re-execution
    * of the upstream plan. */
  private def rebase(session: org.apache.spark.sql.SparkSession, df: DataFrame): DataFrame =
    session.createDataFrame(df.rdd, df.schema)

  /** Re-root a CHECKPOINTED frame onto a fresh LogicalRDD with FLAT
    * default stats — the guard that makes iterative kernels composable.
    * `localCheckpoint` truncates the plan but CARRIES the origin plan's
    * Catalyst statistics forward (Spark copies `originStats` so CBO
    * still sees the pre-checkpoint estimate): a k-round loop whose
    * rounds join the previous iterate multiplies those BigInt
    * `sizeInBytes` every round, so the carried estimate's DIGIT COUNT
    * grows geometrically with rounds. One kernel's worth is harmless;
    * feeding one kernel's checkpointed output into ANOTHER kernel's
    * loop compounds further until the stats visitor spends minutes in
    * BigInteger multiplication (observed: Louvain(12 rounds) → CC hung
    * the driver inside SizeInBytesOnlyStatsPlanVisitor). Cost: the
    * fresh root deserializes the cached internal rows per downstream
    * action — one narrow pass, no recompute of the upstream plan. */
  private[graft] def freshStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Eager local checkpoint for a LOOP ITERATE, with the carried origin
    * statistics scrubbed ([[org.apache.spark.sql.graft.bridge
    * .scrubOriginStats]]). A kernel whose round plan references the
    * previous iterate more than once (CC's star rounds)
    * multiplies the carried BigInt sizeInBytes every round — digits
    * ~×4/round — so any run needing ~10+ rounds hangs the driver inside
    * stats estimation DURING the next checkpoint call (measured: the
    * threshold sweep's CC over path-shaped forests). Scrubbing per
    * round pins the digit count; zero data movement. */
  private[graft] def loopCheckpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.bridge.scrubOriginStats(df.localCheckpoint(true))

  /** Materialize a checkpoint AND answer its convergence probe in ONE
    * Spark job — the r20 generalization of the SSSP/BFS "lazy
    * checkpoint + count" idiom ([[shortestPaths]]/[[hopDistances]],
    * whose comments already note it halves the per-round action tax).
    * A LAZY local checkpoint's first action computes and pins every
    * partition, so a full count over it doubles as the materialization
    * pass; the eager `localCheckpoint(true)` runs the identical
    * internal `rdd.count()` and throws the number away, after which
    * every loop kernel paid a SECOND job per round to re-learn it
    * (eager checkpoint, then count/isEmpty/anti-join probe). Measured
    * at sf0.1/local[32] before this change: g_mst executed 459 jobs
    * for 21 s of summed task time in 29.6 s of wall, g_threshold_sweep
    * 644 jobs — the loop family is round-TAX-dominated, and each
    * eliminated job is an eliminated driver barrier + scheduler
    * round-trip per iteration at any scale (guide §1.2 step 1 / §2.4:
    * remove whole passes, not per-task cost). The probe must be a FULL
    * count (a `limit(1)` short-circuit might leave partitions
    * uncomputed and the checkpoint half-pinned). */
  private[graft] def checkpointCounted(df: DataFrame,
      level: Option[org.apache.spark.storage.StorageLevel] = None)
      : (DataFrame, Long) = {
    val ck = level match {
      case Some(l) => df.localCheckpoint(false, l)
      case None => df.localCheckpoint(false)
    }
    // toRdd.count(), not Dataset.count(): the Dataset count is an
    // AQE-staged aggregate — its exchange makes it TWO scheduler jobs
    // (shuffle query stage + result stage), which on the round-tax-
    // bound kernels gives back half of what the fusion saved. The raw
    // physical-RDD count is ONE job whose compute pass materializes
    // (and pins) every partition of the marked checkpoint RDD.
    (ck, ck.queryExecution.toRdd.count())
  }

  /** [[checkpointCounted]] returning the count of rows matching `pred`
    * instead of all rows (changed-row / improved-row probes). The
    * filtered count still computes — and therefore pins — every
    * partition of the checkpoint (a codegen'd filter over the scan,
    * counted at the RDD layer in the same single job). */
  private[graft] def checkpointPredCounted(df: DataFrame,
      pred: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val ck = df.localCheckpoint(false)
    (ck, ck.filter(pred).queryExecution.toRdd.count())
  }

  /** [[checkpointCounted]] with the carried origin stats scrubbed —
    * the counted twin of [[loopCheckpoint]]. */
  private[graft] def loopCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (ck, n) = checkpointCounted(df)
    (org.apache.spark.sql.graft.bridge.scrubOriginStats(ck), n)
  }

  /** [[checkpointPredCounted]] with the carried origin stats scrubbed. */
  private[graft] def loopCheckpointPredCounted(df: DataFrame,
      pred: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val (ck, n) = checkpointPredCounted(df, pred)
    (org.apache.spark.sql.graft.bridge.scrubOriginStats(ck), n)
  }

  /** Release the executor blocks behind a SUPERSEDED loop iterate.
    * Eager `localCheckpoint(true)` pins each iterate's partitions in
    * executor storage; without explicit release a k-round loop holds k
    * iterates' worth of blocks — harmless on a laptop corpus, an OOM/
    * eviction-thrash source at 100 TB (and measurably inflating
    * late-session queries here). Safe ONLY once the successor iterate
    * has been eagerly materialized: checkpointing truncated the old
    * plan's lineage, so it must never be executed again. Targets
    * exactly the checkpoint RDD inside the frame's plan (never the
    * session-wide persistent-RDD list, which would race with
    * concurrent queries). */
  private[graft] def releaseIterate(df: DataFrame): Unit =
    if (df != null) df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Unpersist every persisted RDD in the frame's FULL RDD lineage —
    * the release for [[freshStats]]-wrapped checkpoints, whose plan's
    * LogicalRDD holds a derived (unpersisted) RDD with the pinned
    * checkpoint one or two parents up, where [[releaseIterate]]'s
    * plan-local walk cannot see it. Only for frames the caller owns
    * OUTRIGHT (a shared upstream checkpoint would be yanked from other
    * consumers); [[releaseIterate]] stays the default. */
  private[graft] def releaseLineage(df: DataFrame): Unit =
    if (df != null) {
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(rdd: org.apache.spark.rdd.RDD[_]): Unit =
        if (seen.add(rdd.id)) {
          if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
            rdd.unpersist(blocking = false)
          rdd.dependencies.foreach(d => walk(d.rdd))
        }
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd)
        case _ => ()
      }
    }

  /** Round cap for [[connectedComponents]]' distributed loop — the
    * alternation is O(log² n) worst case on ANY edge shape, so 64
    * covers graphs far beyond any tested scale; the loop exits the
    * round after the edge set reaches the star fixpoint. A capped exit
    * is a CORRECTNESS failure, not a tuning choice (the CC oracle is
    * an exact transitive closure, and an unconverged edge set silently
    * under-merges), so it fails loudly. */
  private val CcMaxRounds = 64

  /** Connected components on the undirected view of `edges` (src, dst).
    * Returns (id, comp) for every row of `nodes`, where comp = the
    * component's minimum member id; nodes off the edge list keep their
    * own id. Labels relay through EVERY edge endpoint, including
    * endpoints that are not node rows.
    *
    * One logical kernel, two physical paths picked by size in
    * [[Gates.edges]]. Both start from the same init materialization:
    * the canonical (max, min) edge set, self-loops dropped, distinct —
    * so callers may pass duplicate, reversed or self-loop edges, and
    * the distinct edge count falls out of that single job.
    *   - At or below the gate: one collect and the [[LocalGraph]]
    *     union-find ([[unionFindLabels]]) instead of the O(log² n)
    *     rounds of ~6 AQE stage jobs each. Every caller outside the
    *     full-graph keys feeds a forest cut, a band or a merge graph
    *     bounded by the component count, tiny next to the edge corpus.
    *   - Above it: ALTERNATING STAR CONTRACTION (Kiveris et al. 2014,
    *     "Connected Components in MapReduce and Beyond": two-phase
    *     large-star/small-star). The loop restructures the EDGE LIST
    *     itself — large-star hangs every larger neighbour under the
    *     local minimum, small-star compresses the rest — with a proven
    *     O(log² n) round bound independent of id placement. Label
    *     propagation creeps ~1–2 hops per round on chains whose ids
    *     DESCEND along the chain (measured: the single-linkage sweep's
    *     MST chains at sf0.1 took 365 s under hash-to-min, 23 s here
    *     for all four sweep cuts). Per round: two keyed min-aggregates
    *     and two joins over the CURRENT edge list — which only SHRINKS
    *     toward one star edge per non-root node — and one fixpoint
    *     probe; iterates go through [[loopCheckpoint]] so carried stats
    *     stay flat. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    var (e, eCnt) = loopCheckpointCounted(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .select(col("b").as("u"), col("a").as("v"))) // u > v: child→smaller
    if (eCnt <= Gates.edges) {
      // the distinct edge count just fell out of the init
      // materialization: below the gate the whole round stack collapses
      // into one cached-scan collect (r20 profile: these rounds were
      // where g_threshold_sweep's 538 and g_mst's ≈ 380 jobs went)
      val out = unionFindLabels(nodes, e)
      releaseIterate(e)
      return out
    }
    var r = 0
    var live = true
    while (r < CcMaxRounds && live) {
      // large-star: per node u (over the SYMMETRIC view), every
      // neighbor STRICTLY LARGER than u re-attaches to u's local
      // minimum m = min(N(u) ∪ {u})
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u").cast("long")).as("m"))
      // large-star output, UNMATERIALIZED: `large` is referenced twice
      // (m2's aggregate and the small-star join), but its repeated
      // subtree is deduped by AQE's runtime exchange reuse — the extra
      // per-round action costs more than the reuse saves: dropping
      // the eager checkpoint here fuses each round's large+small stars
      // into ONE materialization job (r20 A/B).
      // the distinct is LOAD-BEARING beyond set semantics: its exchange
      // is the boundary AQE's runtime exchange reuse dedups the twice-
      // referenced subtree at (r20 A/B: dropping it re-executed the
      // sym+m+join subtree per reference — g_mst 19.0 → 26.2 s wall,
      // task time +25%)
      val large = sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: per node u (over the large-star output, already
      // child→smaller oriented), neighbors ≤ u and u itself attach to m
      val m2 = large.groupBy(col("u"))
        .agg(least(min(col("v")), col("u").cast("long")).as("m"))
      val small = large.join(m2, Seq("u"))
        .select(explode(array(
          struct(col("v").as("x"), col("m").as("y")),
          struct(col("u").as("x"), col("m").as("y")))).as("p"))
        .select(greatest(col("p.x"), col("p.y")).as("u"),
          least(col("p.x"), col("p.y")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // ONE job materializes `next` AND yields its row count — which
      // carries most of the fixpoint answer (below)
      val (next, nCnt) = loopCheckpointCounted(small)
      // fixpoint: the edge list is a stable star forest when the round
      // leaves it unchanged (same canonical pair set). Both iterates
      // are DISTINCT sets, so |next| ≠ |e| already proves change with
      // zero extra jobs (the count fell out of the materialization),
      // and |next| = |e| ∧ next∖e = ∅ proves equality — ONE anti-join
      // probe on the rare equal-count rounds replaces the former
      // unconditional two (the per-round job count is the loop
      // family's dominant cost at sf0.1, and a driver barrier per
      // round at any scale).
      live = nCnt != eCnt ||
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() > 0
      releaseIterate(e)
      e = next
      eCnt = nCnt
      r += 1
    }
    if (live) throw new IllegalStateException(
      s"connectedComponents: no fixpoint after $CcMaxRounds rounds")
    // converged star edges are (child u, root v); roots/isolated keep self
    nodes.select(col("id"))
      .join(e.select(col("u").as("id"), col("v").as("root")), Seq("id"),
        "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }

  /** [[connectedComponents]]' driver path: collect the distinct (u, v)
    * edge checkpoint, run the [[LocalGraph]] union-find, and re-attach
    * (id, comp) to every node. Roots are each set's MINIMUM member id —
    * the kernel's comp = min-member contract, identical to the star
    * fixpoint by construction; nodes off the edge list keep their own
    * id. Unlike the other twins' [[LocalGraph.relation]] frames, the
    * roots ride as a local relation: that choice sets this join's plan
    * and job count. */
  private def unionFindLabels(nodes: DataFrame, uv: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val g = LocalGraph.collect(uv, "u", "v")
    val root = g.roots()
    LocalGraph.attach(nodes.select(col("id")),
      g.ids.indices.map(j => (g.ids(j), g.ids(root(j)))).toDF("id", "root"))(
      col("id"), coalesce(col("root"), col("id")).as("comp"))
  }

  /** One cut of a NESTED-cut sweep — a single-linkage ladder, where
    * every component at one cut lies wholly inside one component of
    * the next. The first cut (`prev` null) is [[connectedComponents]]
    * over `band`. Each later cut CONTRACTS by the previous cut's
    * components: `band` holds only the edges new since `prev`'s cut,
    * their endpoints are relabeled to `prev`'s components, CC runs on
    * those supernodes, and one hash join maps the labels back to nodes.
    * Labels equal a from-scratch run (the min of component-min labels
    * is the global min member id), but each later kernel input is the
    * band over the shrinking supernode set instead of the whole cut.
    * `band` is (src, dst); `prev` is the caller's materialized
    * (id, comp) table of the previous cut. The caller owns every
    * checkpoint. */
  private[graft] def nestedCut(nodes: DataFrame, prev: DataFrame,
                               band: DataFrame): DataFrame =
    if (prev == null) connectedComponents(nodes, band)
    else {
      // band edges inside one supernode become self-loops, which the
      // CC init drops
      val superBand = band
        .join(prev.select(col("id").as("src"), col("comp").as("cs")), Seq("src"))
        .join(prev.select(col("id").as("dst"), col("comp").as("cd")), Seq("dst"))
        .select(col("cs").as("src"), col("cd").as("dst"))
      val superCc = connectedComponents(
        prev.select(col("comp").as("id")).distinct(), superBand)
      prev.select(col("id"), col("comp").as("pcomp"))
        .join(superCc.select(col("id").as("pcomp"), col("comp").as("ncomp")),
          Seq("pcomp"))
        .select(col("id"), col("ncomp").as("comp"))
    }

  /** k-core peeling budget: the peel loop strictly shrinks the member
    * set, so it converges in ≤ |V| rounds but in practice a handful; the
    * budget caps the loop AND sizes the unrolled oracle (same
    * budget-alignment contract as [[shortestPaths]] — after the fixpoint
    * extra rounds are no-ops, so early exit and a full-budget oracle
    * agree whenever the graph converges inside the budget, and both
    * engines stop at the same iterate when it doesn't). */
  val KCoreMaxRounds = 12

  /** k-core decomposition on the undirected view of `edges`: the maximal
    * subgraph where every node has ≥ `k` neighbours INSIDE the subgraph.
    * Returns (id, core_deg) for core members. Iterative peeling — each
    * round drops nodes whose within-member degree fell under k:
    * two left-semi joins restrict the (pre-partitioned, checkpointed)
    * edge list to the surviving members, one groupBy counts degrees.
    * Shuffles only (id)-keyed projections; one checkpoint action per
    * round with the convergence probe reading the checkpointed result —
    * the same loop discipline as the other kernels here. */
  def kCore(nodes: DataFrame, edges: DataFrame, k: Int,
            maxRounds: Int = KCoreMaxRounds): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .repartition(col("u"))
      .localCheckpoint(true)
    def coreDegrees(members: DataFrame): DataFrame =
      sym
        .join(members.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(members.select(col("id").as("v")), Seq("v"), "left_semi")
        .groupBy(col("u").as("id")).agg(count(lit(1)).as("core_deg"))
    val (members0, size0) = checkpointCounted(nodes.select(col("id")))
    var members = members0
    var size = size0
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // ONE job: the count materializes the lazy checkpoint
      val (next, m) = checkpointCounted(coreDegrees(members)
        .filter(col("core_deg") >= k)
        .select(col("id")))
      done = m == size // monotone: equal size ⇒ identical set ⇒ fixpoint
      releaseIterate(members)
      members = next
      size = m
      round += 1
    }
    coreDegrees(members)
  }

  /** k-truss peeling budget — the same budget-alignment contract as
    * [[KCoreMaxRounds]]: the peel loop strictly shrinks the edge set,
    * rounds after the fixpoint are identities, and the unrolled oracle
    * replays exactly this budget, so early exit and the full-budget
    * replay agree unconditionally. */
  val KTrussMaxRounds = 12

  /** k-truss decomposition on the undirected view of canonical
    * (src < dst) `edges`: the maximal subgraph in which every edge
    * participates in ≥ k−2 triangles WITHIN the subgraph (Cohen 2008,
    * "Trusses: cohesive subgraphs for social network analysis") — the
    * edge-analogue of [[kCore]], and a strictly denser cohesion cut
    * (every k-truss is inside the (k−1)-core). Returns the surviving
    * canonical edges with their final within-truss support.
    *
    * Shape per peel round: pack each survivor node's adjacency (over
    * surviving edges only) into ONE sorted array row, join each
    * surviving edge to its two endpoint arrays, and count common
    * neighbours with the native two-pointer
    * [[graft.functions.SortedIntersectCount]] — the
    * [[Clouds.neighborJaccardCapped]] rescore idiom. The support join
    * shuffles Σdeg array cells (the same volume an exploded
    * wedge-join would shuffle BEFORE its blow-up: listing wedges
    * materializes Σdeg² rows, which at hub degree is the classic
    * truss-counting bomb); per-edge compute is O(deg u + deg v)
    * inside codegen. The peel loop strictly shrinks the edge set, so
    * later rounds get cheaper; one checkpoint action per round with
    * the convergence probe reading the checkpointed result — the
    * [[kCore]] loop discipline, and superseded iterates released. */
  def kTruss(edges: DataFrame, k: Int,
             maxRounds: Int = KTrussMaxRounds): DataFrame =
    kTrussImg(edges, k, maxRounds)._1

  /** [[kTruss]] plus the broadcast handle behind the FINAL support
    * pass's adjacency image (None on the shuffle path) — the returned
    * frame pins the image until the caller's action completes (the
    * standard iterate-lifetime contract); callers that chain further
    * work in one session should destroy it once the result is
    * consumed, because block-manager blocks are not heap-collectable. */
  private[graft] def kTrussImg(edges: DataFrame, k: Int,
      maxRounds: Int = KTrussMaxRounds): (DataFrame,
        Option[org.apache.spark.broadcast.Broadcast[AdjImage]]) = {
    // CALLER-OWNED input contract (the [[boruvkaMst]] lesson, §4.13
    // r12(a)): round 0 scans `edges` as-is — three narrow scans per
    // support pass, NOT a defensive re-checkpoint, which at 150k/85M
    // costs ~2 min of wall and ~1.4 GB of the 8 GiB JVM before any
    // peeling starts. Callers pass a materialized (or cheap-to-scan)
    // canonical edge frame. Edge-scale iterates that ARE created here
    // use serialized blocks: a deserialized 85M-row checkpoint pins
    // ~3× the bytes and starves the adjacency pack's
    // ObjectHashAggregate (measured OOM at 150k/85M — the §4.13
    // reader-pin shape).
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    var surv = edges.select(col("src").as("u"), col("dst").as("v"))
    var survCp: DataFrame = null // the checkpoint behind surv, if any
    var size = surv.count()
    // BOUNDED-COLLECT SHORTCUT (the [[unionFindLabels]] class of gate):
    // below [[Gates.edges]] canonical edges the whole peel —
    // ≤ maxRounds synchronous support-and-filter passes plus the final
    // scoring pass — runs in one driver loop over the collected pairs
    // instead of one image collect + one checkpoint action + several
    // AQE stage jobs PER ROUND. The local pass replays the distributed
    // semantics exactly (same survivor sets per round: integer support
    // within the current survivors, synchronous filter, fixpoint =
    // unchanged count; same final >0 cut), so results are identical by
    // construction; TrussSpec pins local == distributed on a planted
    // graph. Above the gate the per-round image/shuffle plans stand —
    // their Σdeg cell work is the intrinsic cost and parallelizes
    // per partition on a cluster.
    if (size <= Gates.edges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val rows = trussPeelLocal(LocalGraph.collect(surv, "u", "v"), k, maxRounds)
      return (LocalGraph.relation(spark, rows.toIndexedSeq, "u", "v", "support"),
        None)
    }
    var round = 0
    var done = size == 0L
    while (!done && round < maxRounds) {
      val (sup, bc) = edgeSupportImg(surv, 2 * size)
      // ONE job: the count materializes the lazy (serialized) checkpoint
      val (next, m) = checkpointCounted(sup
        .filter(col("support") >= k - 2)
        .select(col("u"), col("v")), Some(ser))
      // next is materialized: this round's adjacency image and the
      // superseded survivor checkpoint can go immediately (block-manager
      // blocks are not heap-collectable — see [[edgeSupportImg]])
      bc.foreach(_.destroy())
      done = m == size // monotone: equal size ⇒ identical set ⇒ fixpoint
      releaseIterate(survCp)
      survCp = next
      surv = next
      size = m
      round += 1
    }
    // One more support pass WITHIN the final survivor set scores the
    // kept edges (on a converged exit it recomputes the fixpoint
    // round's values — memory-cheaper than checkpointing the wide
    // support table every round, and pure broadcast-side compute under
    // the [[Gates.cells]] gate). The >0 guard matches the
    // oracle's final inner wedge-join, which drops
    // common-neighbour-free edges too.
    val (fin, finBc) = edgeSupportImg(surv, 2 * size)
    (fin.filter(col("support") > 0), finBc)
  }

  /** The flat adjacency image behind [[edgeSupport]]'s broadcast path:
    * node ids sorted ascending, CSR-style offsets into ONE flat
    * neighbour array whose cells are INT INDICES into `ids` (each
    * node's slice ascending — index order = id order, so the
    * two-pointer intersect is unchanged). Three primitive arrays,
    * ~8 B/edge-cell and three object headers TOTAL: a broadcast
    * HashedRelation of array rows costs ~100 B/row overhead PLUS the
    * build charging Spark's execution-memory pool (measured: the
    * 150k/85M relation build trips
    * notEnoughMemoryToBuildAndBroadcastTableError), and a long-cell
    * image (measured next) OOMs the default 8 GiB JVM once its torrent
    * blocks and value copy sit beside the edge checkpoint. The int
    * encoding is safe BY THE GATE: images are built only under
    * [[Gates.cells]]. */
  private[graft] final case class AdjImage(
      ids: Array[Long], offs: Array[Int], flat: Array[Int]) {
    /** [start, end) slice of `flat` for node `id`; empty if absent. */
    def slice(id: Long): (Int, Int) = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i < 0) (0, 0) else (offs(i), offs(i + 1))
    }
  }

  private[graft] object AdjImage {
    /** An image with `lens(i)` empty cells for node i: the offsets are
      * the prefix sums of `lens`, the caller fills `flat`. */
    def alloc(ids: Array[Long], lens: Array[Int]): AdjImage = {
      val n = ids.length
      var total = 0L
      lens.foreach(total += _)
      require(total <= Int.MaxValue,
        s"adjacency image of $total cells exceeds the int-indexed bound; " +
          "images are built only under Gates.cells")
      val offs = new Array[Int](n + 1)
      var i = 0
      while (i < n) { offs(i + 1) = offs(i) + lens(i); i += 1 }
      AdjImage(ids, offs, new Array[Int](total.toInt))
    }
  }

  /** Assemble the CSR image from PRE-TRANSLATED (node-index, int-index
    * slice) rows — the per-cell long→index translation happened
    * executor-side under the broadcast id dictionary, so the driver
    * only ever holds the int cells (half the bytes) and does pure
    * arraycopy placement here. */
  private[graft] def packAdjImage(
      ids: Array[Long], rows: Array[(Int, Array[Int])]): AdjImage = {
    val lens = new Array[Int](ids.length)
    rows.foreach { case (i, s) => lens(i) = s.length }
    val img = AdjImage.alloc(ids, lens)
    rows.foreach { case (idx, s) =>
      System.arraycopy(s, 0, img.flat, img.offs(idx), s.length) }
    img
  }

  /** Two-pointer intersection count over two sorted slices of `flat` —
    * the [[graft.functions.SortedIntersectCount]] kernel, hand-rolled
    * because the broadcast path runs outside codegen. */
  private def sliceIntersect(flat: Array[Int], s1: Int, e1: Int,
                             s2: Int, e2: Int): Long = {
    var i = s1; var j = s2; var c = 0L
    while (i < e1 && j < e2) {
      val a = flat(i); val b = flat(j)
      if (a == b) { c += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    c
  }

  /** Per-edge triangle support of a canonical (u < v) edge set: pack
    * each node's adjacency into ONE sorted array row, join each edge
    * to its two endpoint arrays, count common neighbours with the
    * native two-pointer [[graft.functions.SortedIntersectCount]].
    * Every edge survives (its endpoints always have adjacency rows —
    * they contain each other), so 0-support edges come through with
    * support 0. Shared by [[kTruss]]'s peel rounds and
    * [[Clouds.trussSupport]]'s one-shot report.
    *
    * PLAN SHAPE — the second join is the scale hazard: left as a pair
    * of shuffle joins, join-1's output re-exchanges (u, v, adj_u) rows
    * by v, i.e. Σ_e deg(u) array CELLS through the wire (measured:
    * 24 GB at 47k/8.4M on the dense synthetic, page-cache-masked until
    * the next query pays the writeback). When the caller knows the
    * symmetric cell count (2|E|) and it clears [[Gates.cells]],
    * the packed adjacency is collected into a flat [[AdjImage]] and
    * broadcast ONCE, and support becomes a single narrow map over the
    * edge stream — zero joins, zero exchanges, two slice lookups + a
    * two-pointer intersect per edge (the [[Similarity.embeddingNearDup]]
    * collect-then-tight-JVM-loop idiom; a broadcast-HASH-JOIN plan of
    * the same shape builds a HashedRelation whose ~100 B/row overhead
    * and execution-memory charge trip
    * notEnoughMemoryToBuildAndBroadcastTableError at 150k/85M in the
    * 8 GiB JVM the image fits comfortably). Above the gate
    * (billion-node corpora) the shuffle plan stands — Σdeg² cell
    * movement is the intrinsic cost of exact triangle counting
    * (wedge-join formulations ship the same volume as rows), and it
    * parallelizes per-partition on a cluster. */
  def edgeSupport(surv: DataFrame, symCellsHint: Long = -1L): DataFrame =
    edgeSupportImg(surv, symCellsHint)._1

  /** [[edgeSupport]] plus the broadcast handle behind the gated path
    * (None on the shuffle path), so loop callers ([[kTruss]]) can
    * destroy a superseded round's adjacency image instead of waiting
    * for the ContextCleaner's GC-driven sweep — block-manager blocks
    * are not heap-collectable, so an r-round peel would otherwise hold
    * r images' worth of storage at worst. */
  /** Collect a packed (node, sorted-adjacency) frame into a broadcast
    * [[AdjImage]]. Two driver hops, both int-lean: (1) the sorted id
    * dictionary (|V| longs), broadcast back so (2) each adjacency
    * slice is translated long→index EXECUTOR-side and only int cells
    * cross the driver — the long-cell single-collect variant held 2×
    * the bytes and OOM'd the 8 GiB JVM at 150k/85M. The caller owns
    * (and destroys) the returned broadcast. */
  private[graft] def collectAdjImage(adj0: DataFrame)
      : org.apache.spark.broadcast.Broadcast[AdjImage] = {
    val spark = adj0.sparkSession
    import spark.implicits._
    val ids: Array[Long] = adj0.select(col("node").as("value"))
      .as[Long].collect().sorted
    val bcIds = spark.sparkContext.broadcast(ids)
    val intRows: Array[(Int, Array[Int])] =
      adj0.select(col("node").as("_1"), col("adj").as("_2"))
        .as[(Long, Array[Long])]
        .mapPartitions { it =>
          val d = bcIds.value
          it.map { case (node, nbrs) =>
            val s = new Array[Int](nbrs.length)
            var j = 0
            while (j < nbrs.length) {
              // neighbours are nodes of the same edge set ⇒ found
              s(j) = java.util.Arrays.binarySearch(d, nbrs(j)); j += 1
            }
            (java.util.Arrays.binarySearch(d, node), s)
          }
        }.collect()
    val img = packAdjImage(ids, intRows)
    bcIds.destroy()
    spark.sparkContext.broadcast(img)
  }

  /** Exact square (4-cycle) census over a canonical (u < v) edge set —
    * the image-gated scale path of [[Clouds.squareCountOnCanon]].
    *
    * The wedge-join formulation ships Σ_m deg(m)² wedge ROWS through a
    * (a, c) exchange — the movement [[edgeSupport]]'s doc rejects at
    * 150k/85M (~770 GB). This kernel does the identical Σdeg² CELL
    * work with ZERO exchanges: broadcast the [[AdjImage]] once, then
    * for each node v (int index, range-partitioned) stream its
    * neighbours' neighbour slices, accumulating co-neighbour counts
    * n_vw for w > v in a per-thread |V|-int scratch array (reset via a
    * touched-list, never re-allocated), and fold the three census sums
    * locally. One tiny per-partition partial row reaches the driver.
    * Identities (integer-exact, shared with the join path):
    *   n_coneighbor_pairs = Σ_v |{w > v : n_vw ≥ 1}|
    *   n_wedge_pairs      = Σ_{v<w} n_vw  (= Σ_m C(deg m, 2))
    *   n_squares          = Σ_{v<w} C(n_vw, 2) / 2
    * Skew note: range partitioning on the node index gives each task
    * Σ_{u∈N(v)} deg(u) cell work per node — even on the dense-blob
    * synthetic; a power-law corpus at cluster scale would deg²-weight
    * the index ranges first. Above the [[Gates.cells]] gate
    * the caller falls back to the wedge join — Σdeg² movement is then
    * the intrinsic exact-square cost, parallel per partition. */
  private[graft] def squareCensusImg(surv: DataFrame)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[AdjImage]) = {
    val spark = surv.sparkSession
    import spark.implicits._
    val adj0 = surv.select(col("u").as("node"), col("v").as("nbr"))
      .union(surv.select(col("v").as("node"), col("u").as("nbr")))
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("adj"))
    val bc = collectAdjImage(adj0)
    val n = bc.value.ids.length
    val partials = spark.range(0, n.toLong, 1,
        spark.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { vs =>
        val a = bc.value
        val nn = a.ids.length
        val counts = new Array[Int](nn)
        val touched = new Array[Int](nn)
        var pairs = 0L; var wedges = 0L; var squares2x = 0L
        vs.foreach { vl =>
          val v = vl.toInt
          var nTouched = 0
          var i = a.offs(v)
          while (i < a.offs(v + 1)) {
            val u = a.flat(i)
            var j = a.offs(u)
            while (j < a.offs(u + 1)) {
              val w = a.flat(j)
              if (w > v) {
                if (counts(w) == 0) { touched(nTouched) = w; nTouched += 1 }
                counts(w) += 1
              }
              j += 1
            }
            i += 1
          }
          pairs += nTouched
          var t = 0
          while (t < nTouched) {
            val c = counts(touched(t)).toLong
            wedges += c
            squares2x += c * (c - 1) / 2
            counts(touched(t)) = 0
            t += 1
          }
        }
        Iterator.single((pairs, wedges, squares2x))
      }
      .toDF("pairs", "wedges", "squares2x")
    val out = partials.agg(
      coalesce(sum(col("pairs")), lit(0L)).as("n_coneighbor_pairs"),
      coalesce(sum(col("wedges")), lit(0L)).as("n_wedge_pairs"),
      coalesce(expr("SUM(squares2x) DIV 2"), lit(0L)).as("n_squares"))
    (out, bc)
  }

  /** Exact neighbour-Jaccard pairs over a (node, nbr) symmetric
    * adjacency — the image-gated scale path of
    * [[Clouds.neighborJaccard]]. Same zero-exchange scatter loop as
    * [[squareCensusImg]] (per node v: co-neighbour counts n_vw for
    * w > v in a reusable |V|-int scratch), but EMITTING the qualifying
    * pairs instead of folding a census: degrees are image offset
    * diffs, so jac = n/(deg a + deg b − n) and the τ filter evaluate
    * entirely inside the map — only surviving rows exist at all
    * (the wedge-join plan materializes every Σdeg² candidate into a
    * shuffle first). The filter compares the UNROUNDED double and the
    * emitted jaccard is HALF_UP round-6 — bit-identical to the join
    * path's `filter(jac >= τ).select(round(jac, 6))`. */
  private[graft] def jaccardPairsImg(nbrs: DataFrame, minSim: Double)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[AdjImage]) = {
    val spark = nbrs.sparkSession
    import spark.implicits._
    val adj0 = nbrs.groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("adj"))
    val bc = collectAdjImage(adj0)
    val n = bc.value.ids.length
    val out = spark.range(0, n.toLong, 1,
        spark.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { vs =>
        val a = bc.value
        val nn = a.ids.length
        val counts = new Array[Int](nn)
        val touched = new Array[Int](nn)
        vs.flatMap { vl =>
          val v = vl.toInt
          var nTouched = 0
          var i = a.offs(v)
          while (i < a.offs(v + 1)) {
            val u = a.flat(i)
            var j = a.offs(u)
            while (j < a.offs(u + 1)) {
              val w = a.flat(j)
              if (w > v) {
                if (counts(w) == 0) { touched(nTouched) = w; nTouched += 1 }
                counts(w) += 1
              }
              j += 1
            }
            i += 1
          }
          val da = (a.offs(v + 1) - a.offs(v)).toLong
          val hits = Array.newBuilder[(Long, Long, Long, Double)]
          var t = 0
          while (t < nTouched) {
            val w = touched(t)
            val inter = counts(w).toLong
            val db = (a.offs(w + 1) - a.offs(w)).toLong
            val jac = inter.toDouble / (da + db - inter).toDouble
            if (jac >= minSim) {
              hits += ((a.ids(v), a.ids(w), inter,
                java.math.BigDecimal.valueOf(jac)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
            }
            counts(w) = 0
            t += 1
          }
          hits.result()
        }
      }
      .toDF("a", "b", "inter", "jaccard")
    (out, bc)
  }

  private[graft] def edgeSupportImg(surv: DataFrame, symCellsHint: Long)
      : (DataFrame, Option[org.apache.spark.broadcast.Broadcast[AdjImage]]) = {
    val adj0 = surv.select(col("u").as("node"), col("v").as("nbr"))
      .union(surv.select(col("v").as("node"), col("u").as("nbr")))
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("adj"))
    if (symCellsHint >= 0 && symCellsHint <= Gates.cells) {
      val spark = surv.sparkSession
      import spark.implicits._
      val bc = collectAdjImage(adj0)
      val out = surv.select(col("u").cast("long"), col("v").cast("long"))
        .as[(Long, Long)]
        .mapPartitions { rows =>
          val a = bc.value
          rows.map { case (u, v) =>
            val (s1, e1) = a.slice(u)
            val (s2, e2) = a.slice(v)
            (u, v, sliceIntersect(a.flat, s1, e1, s2, e2))
          }
        }
        .toDF("u", "v", "support")
      (out, Some(bc))
    } else {
      val out = surv
        .join(adj0.select(col("node").as("u"), col("adj").as("adj_u")), Seq("u"))
        .join(adj0.select(col("node").as("v"), col("adj").as("adj_v")), Seq("v"))
        .select(col("u"), col("v"),
          graft.functions.SortedIntersectCount
            .sortedIntersectCount(col("adj_u"), col("adj_v")).as("support"))
      (out, None)
    }
  }

  /** Driver-local k-truss peel over collected canonical pairs — the
    * bounded-collect twin of [[kTrussImg]]'s round loop (gated there).
    * Replays the distributed semantics operation for operation:
    * synchronous support-within-survivors passes (CSR rebuilt per
    * pass, sorted slices, the same two-pointer intersect), filter at
    * k−2, fixpoint = unchanged survivor count, round budget, then one
    * final support pass over the fixpoint set with the >0 cut. All
    * integers — no rounding surface. */
  private def trussPeelLocal(g: LocalGraph, k: Int,
                             maxRounds: Int): Array[(Long, Long, Long)] = {
    val m = g.m
    val us = g.src; val vs = g.dst
    val alive = new Array[Boolean](m)
    java.util.Arrays.fill(alive, true)
    var aliveCount = m
    val sup = new Array[Int](m)
    def supportPass(): Unit = {
      // index order = id order, so index-sorted slices intersect like
      // the distributed sort_array(id) slices
      val (img, _) = g.csr(both = true, keep = alive(_))
      val offs = img.offs; val flat = img.flat
      var x = 0
      while (x < g.n) {
        java.util.Arrays.sort(flat, offs(x), offs(x + 1)); x += 1
      }
      var e = 0
      while (e < m) {
        if (alive(e)) sup(e) = sliceIntersect(flat,
          offs(us(e)), offs(us(e) + 1), offs(vs(e)), offs(vs(e) + 1)).toInt
        e += 1
      }
    }
    var round = 0
    var done = aliveCount == 0
    while (!done && round < maxRounds) {
      supportPass()
      var next = 0
      var e = 0
      while (e < m) {
        if (alive(e)) {
          if (sup(e) >= k - 2) next += 1 else alive(e) = false
        }
        e += 1
      }
      done = next == aliveCount
      aliveCount = next
      round += 1
    }
    supportPass() // score the fixpoint set (the distributed final pass)
    val out = Array.newBuilder[(Long, Long, Long)]
    var e = 0
    while (e < m) {
      if (alive(e) && sup(e) > 0)
        out += ((g.ids(us(e)), g.ids(vs(e)), sup(e).toLong))
      e += 1
    }
    out.result()
  }

  /** Intersection size + endpoint degrees for EXPLICIT candidate pairs
    * (a, b) against a broadcast [[AdjImage]] — the capped-rescore twin
    * of [[edgeSupportImg]]'s pair map. The array-join formulation of
    * the same rescore copies BOTH endpoints' full adjacency arrays
    * into every candidate row (two keyed exchanges moving
    * Σ_cand(deg a + deg b) CELLS); under the [[Gates.cells]]
    * gate this is instead one narrow map over the candidate stream —
    * zero joins, two slice lookups + a two-pointer intersect per pair.
    * Degrees fall out of the CSR offsets for free, saving the degree
    * joins too. The caller owns (and destroys) the broadcast. */
  private[graft] def pairIntersectImg(pairs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[AdjImage]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val a = bc.value
        rows.map { case (x, y) =>
          val (s1, e1) = a.slice(x)
          val (s2, e2) = a.slice(y)
          (x, y, sliceIntersect(a.flat, s1, e1, s2, e2),
            (e1 - s1).toLong, (e2 - s2).toLong)
        }
      }
      .toDF("a", "b", "inter", "da", "db")
  }

  /** K-seed budgeted BFS over a broadcast CSR [[AdjImage]] — the
    * image-gated scale path of [[hopDistances]] (same zero-exchange
    * idiom as [[squareCensusImg]]): seeds are parallelized across
    * tasks, each task runs plain frontier BFS over the broadcast image
    * with a reusable |V|-int distance scratch (reset via a touched
    * list), and emits the SAME sparse (seed, id, d) reach rows the
    * distributed frontier-delta loop produces — exact integers, no
    * rounding surface at all. The loop's per-round cost was never
    * compute (4 seeds × a dense graph saturate in a handful of hops);
    * it was ~3 scheduler jobs per BFS layer. Directed semantics are
    * preserved: slices are OUT-neighbours, and sink-only nodes enter
    * the dictionary with empty slices so every dst resolves. */
  private[graft] def hopDistancesImg(seeds: DataFrame, e: DataFrame,
                                     maxRounds: Int): DataFrame = {
    val spark = seeds.sparkSession
    import spark.implicits._
    val adj0 = e.select(col("src").as("node"), col("dst").as("nbr"))
      .groupBy(col("node")).agg(sort_array(collect_list(col("nbr"))).as("adj"))
    val sinkOnly = e.select(col("dst").as("node")).distinct()
      .join(adj0.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), array().cast("array<long>").as("adj"))
    val bc = collectAdjImage(adj0.unionByName(sinkOnly))
    val seedArr = seeds.select(col("id").cast("long")).as[Long].collect()
    val budget = maxRounds
    val out = spark.sparkContext
      .parallelize(seedArr.toIndexedSeq,
        math.max(1, math.min(seedArr.length,
          spark.sparkContext.defaultParallelism)))
      .mapPartitions { ss =>
        val a = bc.value
        val nn = a.ids.length
        val dist = new Array[Int](nn)
        java.util.Arrays.fill(dist, -1)
        val touched = new Array[Int](nn)
        var queue = new Array[Int](math.max(16, nn))
        ss.flatMap { s =>
          val rows = Array.newBuilder[(Long, Long, Long)]
          rows += ((s, s, 0L))
          val si = java.util.Arrays.binarySearch(a.ids, s)
          if (si >= 0) {
            var nTouched = 0
            dist(si) = 0; touched(nTouched) = si; nTouched += 1
            var head = 0; var tail = 0
            queue(tail) = si; tail += 1
            while (head < tail) {
              val u = queue(head); head += 1
              val du = dist(u)
              if (du < budget) {
                var i = a.offs(u)
                while (i < a.offs(u + 1)) {
                  val w = a.flat(i)
                  if (dist(w) < 0) {
                    dist(w) = du + 1
                    touched(nTouched) = w; nTouched += 1
                    queue(tail) = w; tail += 1
                    rows += ((s, a.ids(w), (du + 1).toLong))
                  }
                  i += 1
                }
              }
            }
            var t = 0
            while (t < nTouched) { dist(touched(t)) = -1; t += 1 }
          }
          rows.result()
        }
      }
      .toDF("seed", "id", "d")
      // materialize so the broadcast can be destroyed and so consumers
      // see the same already-computed shape the loop path returns
      .localCheckpoint(true)
    bc.destroy()
    out
  }

  /** Round budget for [[coreness]] — part of the contract, like every
    * iteration budget here; the h-index iteration typically converges
    * in a handful of rounds (Lü et al. 2016 report O(diameter)-ish
    * worst cases, single digits on real graphs). */
  val CorenessRounds = 16

  /** Image-gated twin of [[coreness]]'s h-index loop (the
    * [[hopDistancesImg]] idiom): under the [[Gates.cells]]
    * gate the whole synchronous iteration runs over the broadcast CSR
    * [[AdjImage]] — zero exchanges, zero per-round scheduler jobs —
    * instead of paying one checkpoint action plus ~6 AQE stage jobs
    * per round. Every partition of the emit range replays the SAME
    * deterministic iteration (double-buffered values, the Hirsch
    * operator per node via a capped counting scan — O(deg) per node
    * per round, no sort) and emits only its index slice, so the
    * output stays distributed and the driver never holds |V| rows.
    * Value-identity with the loop path is unconditional: the iterate
    * is integer-only, the recurrence is synchronous and tiebreak-free,
    * and the loop's frontier/untouched-keep plumbing is a pure
    * optimization of the same full recompute (unchanged neighbourhood
    * multiset ⇒ unchanged H). Early exit on a no-change round matches
    * the loop's fixpoint exit. Isolated nodes (absent from the image)
    * fall out of the final left join at 0 — the loop's
    * coalesce(c, 0) on the degree init. */
  private[graft] def corenessImg(nodes: DataFrame, symPlan: DataFrame,
                                 rounds: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val adj0 = symPlan.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("adj"))
    val bc = collectAdjImage(adj0)
    val n = bc.value.ids.length
    val budget = rounds
    val out = spark.range(0, n.toLong, 1,
        math.max(1, math.min(n, spark.sparkContext.defaultParallelism)))
      .as[Long]
      .mapPartitions { vs =>
        val slice = vs.toArray // this partition's contiguous index range
        val a = bc.value
        val nn = a.ids.length
        var cur = new Array[Int](nn)
        var nxt = new Array[Int](nn)
        var maxDeg = 0
        var i = 0
        while (i < nn) {
          cur(i) = a.offs(i + 1) - a.offs(i)
          if (cur(i) > maxDeg) maxDeg = cur(i)
          i += 1
        }
        val cnt = new Array[Int](maxDeg + 1)
        var r = 0
        var live = nn > 0
        while (r < budget && live) {
          var changed = 0
          var u = 0
          while (u < nn) {
            val d = a.offs(u + 1) - a.offs(u)
            var j = a.offs(u)
            while (j < a.offs(u + 1)) {
              val v = cur(a.flat(j)); cnt(if (v > d) d else v) += 1; j += 1
            }
            var h = 0; var cum = 0; var x = d
            while (x >= 1 && h == 0) { cum += cnt(x); if (cum >= x) h = x; x -= 1 }
            j = a.offs(u)
            while (j < a.offs(u + 1)) {
              val v = cur(a.flat(j)); cnt(if (v > d) d else v) = 0; j += 1
            }
            nxt(u) = h
            if (h != cur(u)) changed += 1
            u += 1
          }
          live = changed > 0
          val t = cur; cur = nxt; nxt = t
          r += 1
        }
        slice.iterator.map(v => (a.ids(v.toInt), cur(v.toInt).toLong))
      }
      .toDF("id", "c")
      // materialize so the broadcast can be destroyed; same contract as
      // [[hopDistancesImg]]
      .localCheckpoint(true)
    bc.destroy()
    nodes.select(col("id")).join(out, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("c"), lit(0L)).as("coreness"))
  }

  /** FULL core decomposition — the coreness (shell) number of every
    * node, refining [[kCore]]'s single-k binary cut: coreness(v) = the
    * largest k such that v survives k-core peeling. Uses the H-INDEX
    * ITERATION (Lü, Zhou, Zhang & Stanley, "The H-index of a network
    * node and its relation to degree and coreness", Nat. Commun. 2016):
    * c_0(v) = deg(v); c_{t+1}(v) = H({c_t(u) : u ~ v}) where H is the
    * Hirsch operator (the largest h with ≥ h neighbours of value ≥ h,
    * i.e. max_r min(value_r, r) over the values sorted descending).
    * The sequence is monotone non-increasing and converges exactly to
    * coreness — a SYNCHRONOUS, tiebreak-free recurrence, so the
    * unrolled SQL oracle replays it unconditionally (integer values
    * only; rank order among equal values cannot change max min(c,r)).
    *
    * Scale shape — DELTA FRONTIER (the CC/SSSP idiom): the iterate is
    * monotone non-increasing, so a node's H-index can change in round
    * t+1 ONLY if some neighbour's value changed in round t (unchanged
    * neighbourhood multiset ⇒ unchanged max min(c, r)). Each round
    * therefore gathers only onto TOUCHED nodes — those with ≥1
    * changed neighbour — and the untouched remainder keeps its value
    * through a |V|-row left join; the per-node H aggregate
    * (value-compressed counts + a running-count window — see the
    * round body) runs over Σdeg(touched) rows instead of 2|E| every
    * round, with the sort itself over the compressed (node, value)
    * set only. Round 1
    * gathers everything (the degree init "changed" every node), and
    * rounds whose changed set is still a large fraction of |V| keep
    * the full gather too ([[CorenessFrontierFrac]] — the frontier
    * plumbing, a distinct over Σdeg(changed) rows, only pays for
    * itself once the frontier has collapsed; measured at the
    * 150k-node/85M-edge ScaleBench point the full-gather rounds after
    * convergence-in-all-but-a-trickle dominated the r13 wall).
    * Iterates are (id, c, changed), checkpointed and released like
    * every loop here. Isolated nodes report 0. Early exit on an empty
    * frontier equals the oracle's full-budget unroll (no change ⇒
    * fixpoint ⇒ every later round is a no-op); like the SSSP relax
    * budget and the BFS hop budget, the round budget is part of the
    * operator contract — convergence needs O(diameter) rounds on deep
    * thin structures (the 1-front of a long path moves one hop per
    * round), which the budget caps by design. */
  def coreness(nodes: DataFrame, edges: DataFrame,
               rounds: Int = CorenessRounds,
               nSymHint: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the symmetric view is built in one explode pass (a self-union
    // would scan the caller's edge frame once per branch — one more
    // 32-reader pass over a big pinned cache at scale; A/B at sf0.1:
    // no measurable difference) and laid out by [[bigSymCheckpoint]]'s
    // pre-count — the 32-way deserialized layout measured
    // AGGREGATE_OUT_OF_MEMORY on the very first degree count at the
    // 150k ScaleBench point (32 readers pin the whole storage pool)
    val symPlan = edges.select(col("src"), col("dst"))
      .select(explode(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // callers that already know the edge count pass 2·|E| as the hint
    // and skip the sizing pass entirely; the count doubles as the
    // image-gate probe ([[hopDistances]] precedent)
    val nSym = if (nSymHint >= 0) nSymHint else symPlan.count()
    if (nSym <= Gates.cells) return corenessImg(nodes, symPlan, rounds)
    val (sess, sym) = bigSymCheckpoint(symPlan, nSym, "v")
    val (ids, nV) = checkpointCounted(if (sess ne nodes.sparkSession)
        rebase(sess, nodes.select(col("id")))
      else nodes.select(col("id")))
    // WIDE inputs: materialized alone before the join — fed lazily
    // into it, the |E|-wide count's map stage runs concurrently with
    // the ids-side shuffle and the combined sorter pressure can starve
    // first-page allocations in a single-JVM pool (the louvainLevelKeep
    // deg lesson). Narrow inputs skip the extra action.
    val wide = sess ne nodes.sparkSession
    val degPlan = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("c"))
    val deg = if (wide) degPlan.localCheckpoint(true) else degPlan
    // loopCheckpoint (not plain localCheckpoint): each round references
    // the iterate twice (gather value side + old-value join), so
    // carried origin stats would compound ~×2 per round
    var c = loopCheckpoint(ids.join(deg, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("c"), lit(0L)).as("c")))
    if (wide) releaseIterate(deg) // folded into the first iterate
    // nV came with the checkpoint — gates frontier + broadcast below
    // |V|-row frames (the value iterate, the per-round H table, the
    // frontier sets) are BROADCAST into the edge-scale joins while |V|
    // is small enough to collect — see [[IterateBroadcastMaxRows]] for
    // the measured why; with the hints a round is sym-scan → BHJ →
    // one aggregate exchange → window over compressed values → BHJ
    // left-outer, and the edge checkpoint is never re-shuffled or
    // re-sorted.
    val bcOk = nV <= IterateBroadcastMaxRows
    def bc(df: DataFrame): DataFrame = bcIf(bcOk, df)
    // chg = null ⇒ "every node changed" (round 1, and any round whose
    // frontier is still ≥ CorenessFrontierFrac·|V| — see scaladoc)
    var chg: DataFrame = null
    var r = 0
    var live = true
    while (r < rounds && live) {
      // touched = nodes with ≥1 changed neighbour. sym is laid out on v
      // (the bigSymCheckpoint key), so the chg probe lands without
      // re-shuffling the edge checkpoint (AQE broadcasts the collapsed
      // frontier at runtime); the distinct shuffles Σdeg(chg) rows only.
      val gatherEdges =
        if (chg == null) sym
        else sym.join(
          bc(sym.join(bc(chg.select(col("id").as("v"))), Seq("v"), "left_semi")
            .select(col("u")).distinct()),
          Seq("u"), "left_semi")
      val gathered = gatherEdges
        .join(bc(c.select(col("id").as("v"), col("c").as("cv"))), Seq("v"))
        .select(col("u"), col("cv"))
      // H via VALUE-COMPRESSED counts, not a per-edge rank: neighbour
      // values concentrate hard (degree-init round 1, and ever harder
      // as the iterate converges), so (u, cv) counts shrink the rows
      // entering the sort by an order of magnitude — and the count
      // aggregate map-side-combines BEFORE its exchange, so the
      // shuffle shrinks too (the per-edge row_number variant sorted
      // all 2|E| gather rows every round — measured ~28 s/round of
      // mostly sort at the 150k/85M point). Identity: with distinct
      // values v₁ > v₂ > … and running counts Rᵢ = #{c ≥ vᵢ},
      // H = maxᵢ min(vᵢ, Rᵢ) — min(h, count≥h) is maximized at the
      // interval endpoints the distinct values define.
      val h = gathered
        .groupBy(col("u"), col("cv")).agg(count(lit(1)).as("cnt"))
        .withColumn("run", sum(col("cnt")).over(
          Window.partitionBy(col("u")).orderBy(col("cv").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("u").as("id"))
        .agg(max(least(col("cv"), col("run"))).as("h"))
      // untouched nodes have no h row and keep their value — exactly
      // the frontier argument: no changed neighbour ⇒ unchanged H
      val prePlan = c.select(col("id"), col("c").as("oldc"))
        .join(bc(h), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("h"), col("oldc")).as("c"),
          (col("h").isNotNull && col("h") =!= col("oldc")).as("changed"))
      // ONE job: the changed-count probe materializes the lazy iterate;
      // the count both certifies the fixpoint (0 ⇒ every later round is
      // a no-op ⇒ early exit equals the oracle's full-budget unroll)
      // and sizes next round's path
      val (next, nChanged) = loopCheckpointPredCounted(prePlan, col("changed"))
      live = nChanged > 0
      releaseIterate(c)
      c = next.select(col("id"), col("c"))
      chg = if (nChanged * CorenessFrontierFrac >= nV) null
        else next.filter(col("changed")).select(col("id"))
      r += 1
    }
    // the final iterate is a materialized checkpoint with no reader of
    // the 2|E|-row symmetric layout left — release it (and the id
    // checkpoint), or every call pins an edge-sized block set for the
    // session lifetime
    releaseIterate(sym)
    releaseIterate(ids)
    c.select(col("id"), col("c").as("coreness"))
  }

  /** Frontier gate for [[coreness]]: rounds whose changed set is at
    * least |V|/this keep the FULL gather — the frontier plumbing (a
    * distinct over Σdeg(changed) rows plus two semi-joins) only beats
    * the full 2|E| gather once the frontier has genuinely collapsed.
    * 4 ⇒ switch to the delta path below 25% of nodes changed. */
  val CorenessFrontierFrac = 4L

  /** Broadcast ceiling for the iterative kernels' |V|-row iterate
    * frames (value/label tables, per-round aggregates, frontier
    * sets): 4.2M rows of an (id, value) pair ≈ 64 MB serialized —
    * comfortably collectable, and far above every tested scale point.
    * WHY A HINT AT ALL: loop iterates are [[loopCheckpoint]]
    * LogicalRDDs whose scrubbed statistics are the default (huge)
    * estimate, so Catalyst plans every round's edge⋈iterate gather as
    * a sort-merge join that re-exchanges AND re-sorts the 2|E|-row
    * symmetric checkpoint — measured a flat ~26 s/round at the
    * 150k/85M coreness point however the aggregate side improved;
    * with the hint the round became sym-scan → BHJ → one aggregate
    * exchange (~14 s/round, 519.5 → 329.3 s end-to-end). Beyond the
    * ceiling the kernels fall back to the shuffle plans, the right
    * shape once the iterate itself is shuffle-scale. */
  val IterateBroadcastMaxRows: Long = 1L << 22

  /** `broadcast` hint gated on the iterate-size check the caller did
    * against [[IterateBroadcastMaxRows]]. */
  private def bcIf(ok: Boolean, df: DataFrame): DataFrame =
    if (ok) broadcast(df) else df

  /** One synchronous gather-round vertex program, run by
    * [[gatherRounds]] on either executor: each round every node gathers
    * the messages its neighbours send over the edges, combines them and
    * adopts the update. The distributed half is Columns over the
    * iterate row — `id`, the base frame's attribute columns (plus
    * `odeg` with [[outDegree]]) and the value `x`; the driver half
    * ([[GatherLocal]]) states each part again over arrays, and each
    * program writes the two side by side. */
  private[graft] abstract class GatherProgram[V](val enc: Encoder[V]) {
    /** Messages travel both ways along every edge; else src → dst only. */
    def symmetric: Boolean
    /** Carry each node's out-degree, the gathered edge rows it sends
      * on (null for none), as the attribute `odeg`. */
    def outDegree: Boolean = false
    /** The value before round 1, over the node row. */
    def init: Column
    /** What a node sends each round, over its iterate row: its value
      * unless the program says otherwise. */
    def message: Column = col("x")
    /** The combine: a receiver's (id, m) message rows → (id, agg). */
    def combine(msgs: DataFrame): DataFrame
    /** The next value over the iterate row, `agg` (null when no message
      * arrived) and the round's global `g`. */
    def update: Column
    /** A per-round aggregate over the iterate that `update` reads as
      * `g`; null when the program has none. */
    def global: Column = null
    /** The driver half over the rows [[gatherRounds]] collects (the
      * edge-incident base rows in id order, then, for a program with a
      * global, one per attribute tuple of the edgeless nodes) and their
      * out-degrees. */
    def local(rows: Array[Row], odeg: Array[Long]): GatherLocal[V]
  }

  /** The driver half of a [[GatherProgram]], over node indices,
    * specialized so that the round loop in [[run]] reads and writes
    * primitive arrays. */
  private[graft] abstract class GatherLocal[@specialized(Long, Double) V: scala.reflect.ClassTag] {
    def init(i: Int): V
    def message(i: Int, x: V): V = x
    /** The combine over the messages `m(snd(j))`, j in [lo, hi); an empty
      * slice gives what the column update's coalesce gives for no message. */
    def fold(own: V, m: Array[V], snd: Array[Int], lo: Int, hi: Int): V
    def update(i: Int, agg: V, g: Double): V = agg
    /** Node i's term of the round's global sum. */
    def global(i: Int, x: V): Double = 0.0

    /** `rounds` synchronous rounds over the receiver-keyed CSR (`offs`,
      * `snd`; a node with an empty slice receives nothing). The global,
      * a `weight`-weighted sum, is summed only when `hasGlobal`.
      * Returns the last values and global. */
    final def run(rounds: Int, offs: Array[Int], snd: Array[Int],
                  weight: Array[Double], hasGlobal: Boolean): (Array[V], Double) = {
      val len = weight.length
      var x = new Array[V](len)
      var i = 0
      while (i < len) { x(i) = init(i); i += 1 }
      var glob = 0.0
      var r = 0
      while (r < rounds) {
        val msg = new Array[V](len); val next = new Array[V](len)
        glob = 0.0; i = 0
        while (i < len) {
          msg(i) = message(i, x(i))
          if (hasGlobal) glob += weight(i) * global(i, x(i))
          i += 1
        }
        i = 0
        while (i < len) { next(i) = update(i, fold(x(i), msg, snd, offs(i), offs(i + 1)), glob); i += 1 }
        x = next
        r += 1
      }
      (x, glob)
    }
  }

  /** Runs `prog` for `rounds` rounds over the (src, dst) `edges` and the
    * node frame `base` (`id` plus the program's attribute columns, one
    * row per id). Returns (id, x) for every base row.
    *
    * Contract, the same on both executors:
    *   - rounds are synchronous: round r reads only round r−1's values;
    *   - a message counts only when its sender and its receiver are both
    *     node rows. Repeated edges send one message per copy, self-loops
    *     count like any edge, and edges to ids that are not node rows
    *     send nothing;
    *   - a node with no edges receives nothing, so it takes
    *     `update(init, null, g)` of the last round (`init` when rounds =
    *     0): the kernel's fixpoint value, because every update here
    *     either ignores the old value or keeps it when nothing arrives;
    *   - the gate is read once, on the gathered edge rows: 2|E| for a
    *     symmetric program, |E| otherwise, against [[Gates.edges]].
    *
    * The input is counted once, on `edges` (or taken from the caller's
    * count `nEdges`), then read once more: collected below the gate,
    * or built into one checkpoint already laid out by
    * [[bigSymCheckpoint]] above it, so no checkpoint is ever re-laid.
    *
    * At or below the gate: one collect, one [[LocalGraph.restrict]] to
    * the node rows, array rounds over a receiver-keyed CSR, one
    * [[LocalGraph.attach]]. Only edge-incident nodes live on the
    * driver; a global also sums the edgeless nodes, as one weighted row
    * per attribute tuple. Above it: the gathered rows laid out by
    * [[bigSymCheckpoint]], and per round a broadcast-gated
    * ([[IterateBroadcastMaxRows]]) join of the iterate's messages, the
    * combine, a left join that adopts the update (crossed with the
    * 1-row global, if any), the iterate checkpoint and the release of
    * its predecessor. */
  private[graft] def gatherRounds[V](prog: GatherProgram[V],
      base: DataFrame, edges: DataFrame, rounds: Int,
      nEdges: Long = -1L): DataFrame = {
    // u receives from v: both orientations of every edge in one explode
    // pass (a self-union scans a big pinned cache twice), or dst ← src
    val plan =
      if (prog.symmetric) edges.select(explode(array(
          struct(col("src").as("u"), col("dst").as("v")),
          struct(col("dst").as("u"), col("src").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      else edges.select(col("dst").as("u"), col("src").as("v"))
    val gathered = (if (prog.symmetric) 2 else 1) *
      (if (nEdges >= 0) nEdges else edges.count())
    if (gathered <= Gates.edges) gatherLocal(prog, base, plan, rounds)
    else {
      val (sess, sym) = bigSymCheckpoint(plan, gathered, "v")
      gatherLoop(prog, base, sess, sym, rounds)
    }
  }

  private def gatherLocal[V](prog: GatherProgram[V], base: DataFrame,
      plan: DataFrame, rounds: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // receiver-major: row k carries a message from dst(k) to src(k)
    val all = LocalGraph.collect(plan, "u", "v")
    val sent = new Array[Long](all.n)
    all.dst.foreach(v => sent(v) += 1)
    val (g, members) = all.restrict(base)
    val img = g.csr(both = false)._1
    val edgeless =
      if (prog.global == null) Array.empty[Row]
      else base.join(LocalGraph.relation(spark, all.ids.toIndexedSeq, "id"),
          Seq("id"), "left_anti")
        .groupBy(base.columns.toSeq.filter(_ != "id").map(col): _*)
        .agg(count(lit(1)).as("n_rows")).collect()
    val n = g.n
    val weight = Array.fill(n)(1.0) ++ edgeless.map(_.getAs[Long]("n_rows").toDouble)
    // the edgeless rows past n get empty CSR slices
    val (x, glob) = prog.local(members ++ edgeless,
        g.ids.map(id => sent(all.index(id))) ++ edgeless.map(_ => 0L))
      .run(rounds, img.offs ++ edgeless.map(_ => img.offs(n)), img.flat, weight,
        prog.global != null)
    implicit val enc: Encoder[(Long, V)] = Encoders.tuple(Encoders.scalaLong, prog.enc)
    LocalGraph.attach(base.withColumn("x", prog.init).withColumn("agg", lit(null))
        .withColumn("g", lit(glob)),
      LocalGraph.relation(spark, (0 until n).map(j => (g.ids(j), x(j))), "id", "lx"))(
      col("id"), coalesce(col("lx"), if (rounds == 0) col("x") else prog.update).as("x"))
  }

  private def gatherLoop[V](prog: GatherProgram[V], base: DataFrame,
      sess: SparkSession, sym: DataFrame, rounds: Int): DataFrame = {
    val nodes = {
      val b = if (sess ne base.sparkSession) rebase(sess, base) else base
      if (!prog.outDegree) b
      else b.join(sym.groupBy(col("v").as("id")).agg(count(lit(1)).as("odeg")),
        Seq("id"), "left_outer")
    }
    val (x0, nV) = checkpointCounted(nodes.withColumn("x", prog.init))
    // at every edge size: the bigSymCheckpoint layout keeps the fused
    // per-task state small (the coreness contract)
    val bcOk = nV <= IterateBroadcastMaxRows
    var x = x0
    for (_ <- 1 to rounds) {
      val msgs = sym
        .join(bcIf(bcOk, x.select(col("id").as("v"), prog.message.as("m"))), Seq("v"))
        .select(col("u").as("id"), col("m"))
      val adopt = x.join(bcIf(bcOk, prog.combine(msgs)), Seq("id"), "left_outer")
      val next = (if (prog.global == null) adopt
          else adopt.crossJoin(broadcast(x.agg(prog.global.as("g")))))
        .select(nodes.columns.toSeq.map(col) :+ prog.update.as("x"): _*)
        .localCheckpoint(true)
      releaseIterate(x)
      x = next
    }
    releaseIterate(sym)
    x.select(col("id"), col("x"))
  }

  /** Synchronous label-propagation rounds (fixed by contract, like
    * [[pageRank]]'s iteration count — the oracle unrolls exactly this
    * many). */
  val LabelPropRounds = 5

  /** Label-propagation community detection on the undirected view of
    * `edges`: every node starts as its own community and each round
    * adopts the most frequent label among its neighbours (ties broken
    * toward the SMALLEST label — that, plus synchronous rounds, makes
    * the algorithm fully deterministic, unlike the textbook
    * random-order variant). Isolated nodes keep their own label.
    * A [[gatherRounds]] program: integer counts only, no floats
    * anywhere, so cross-engine parity is unconditional. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       rounds: Int = LabelPropRounds): DataFrame =
    gatherRounds(new GatherProgram[Long](Encoders.scalaLong) {
      val symmetric = true
      val init = col("id")
      // argmax count with min-label tiebreak: max(struct(c, -label)).
      // One exchange for BOTH aggregates: hash-partitioning on the
      // receiver satisfies clustering on (id, m) AND on id. Deliberately
      // NOT the top1PerGroup heap: an r20 A/B measured that shape under a
      // BroadcastExchange 3-4× SLOWER wall on the louvain family.
      def combine(msgs: DataFrame): DataFrame = msgs.repartition(col("id"))
        .groupBy(col("id"), col("m")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("m")).as("neg"))).as("b"))
        .select(col("id"), (-col("b.neg")).as("agg"))
      val update = coalesce(col("agg"), col("x"))
      def local(rows: Array[Row], odeg: Array[Long]): GatherLocal[Long] = new GatherLocal[Long] {
        private val cnt = new java.util.HashMap[Long, Long]()
        def init(i: Int): Long = rows(i).getLong(0)
        def fold(own: Long, m: Array[Long], snd: Array[Int], lo: Int, hi: Int): Long = {
          var bestL = own; var bestC = 0L
          cnt.clear()
          var j = lo
          while (j < hi) {
            val l = m(snd(j))
            val c: Long = cnt.merge(l, 1L, _ + _)
            if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
            j += 1
          }
          bestL
        }
      }
    }, nodes.select(col("id")).distinct(), edges, rounds)
      .select(col("id"), col("x").as("lbl"))

  /** Synchronous local-move rounds per Louvain level and coarsening
    * levels (fixed by contract — the oracle unrolls exactly this
    * shape, like [[LabelPropRounds]]). */
  val LouvainRounds = 6
  val LouvainLevels = 2

  /** Row threshold past which a loop's big symmetric checkpoint is
    * re-laid by [[bigSymCheckpoint]] — ~16.7M rows is where the 32-way
    * layout's per-task cache blocks and aggregate slices start
    * starving the single-JVM execution pool (32 concurrent readers
    * PIN their in-memory blocks, so execution cannot evict storage
    * and first-page allocations get 0). */
  val WidenRows: Long = 1L << 24

  /** Lay out a loop's big symmetric edge checkpoint, SIZED BY DATA
    * (the caller counts the plan's rows with a cheap streaming pass
    * first — no checkpoint is ever built at the wrong layout and then
    * re-laid, because every read of a mis-laid 170M-row cache is
    * itself an OOM hazard: 32 concurrent readers PIN their in-memory
    * blocks, so execution cannot evict storage and first-page
    * allocations get 0 — measured repeatedly at the 150k/85M
    * ScaleBench point, including in the re-lay shuffle itself).
    * Below [[WidenRows]] rows: the caller's session and layout,
    * deserialized blocks — small graphs and the bench fleet keep
    * today's plans. At or above: a CHILD session with proportionally
    * more shuffle partitions, an EXPLICIT repartition count (a bare
    * repartition(col) takes the session conf width and AQE's
    * coalescer merges it straight back — observed 352 → 34), and
    * SERIALIZED blocks (deserialized UnsafeRow caches are ~3× the
    * bytes plus their GC load — measured raw heap OOM). More,
    * smaller, serialized blocks: per-reader pins shrink ~linearly and
    * every downstream aggregate map and join slice with them. */
  private[graft] def bigSymCheckpoint(plan: DataFrame, nRows: Long,
                                      key: String)
      : (org.apache.spark.sql.SparkSession, DataFrame) =
    if (nRows < WidenRows)
      (plan.sparkSession, plan.repartition(col(key)).localCheckpoint(true))
    else {
      val s = plan.sparkSession.newSession()
      val parts = math.min(1024L, 32L * (nRows / WidenRows + 1)).toInt
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      (s, rebase(s, plan).repartition(parts, col(key))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    }

  /** One Louvain level: synchronous modularity-ascent local moves over
    * a weighted undirected multigraph given as CANONICAL edges
    * (u ≤ v, w) — self-loops allowed (they carry the coarsened
    * intra-community mass at level ≥ 2). Returns (id, lbl).
    *
    * Determinism is the whole design: the textbook Louvain sweeps
    * nodes in random sequential order, which neither parallelizes nor
    * replays in SQL. Here every node simultaneously evaluates the
    * modularity gain of joining each neighbouring community and the
    * argmax is taken over an EXACT integer score — the rational form
    * of Blondel et al.'s ΔQ with the constant 1/(2m²) cleared:
    *
    *   score(i→C) = 2m·k_{i,in}(C) − k_i·(Σ_tot(C) − [i ∈ C]·k_i)
    *
    * (k_{i,in} excludes self-loops — that term is invariant across
    * candidates; Σ_tot is evaluated with i removed from its own
    * community so "stay" competes on equal footing). All three
    * statistics are integer sums (DECIMAL(38,0) here, HUGEINT in the
    * oracle), so the comparison is bit-exact cross-engine; ties break
    * to the smallest community id.
    *
    * Naive simultaneous moves OSCILLATE (two mutually-best singletons
    * swap labels forever — the known failure of synchronous Louvain);
    * two deterministic gates kill the swaps without giving up
    * replayability:
    *   - PARITY GATE: round r only lets nodes with id % 2 == r % 2
    *     adopt their argmax — adjacent odd/even pairs can never move
    *     mutually, so one anchors while the other joins it;
    *   - SINGLETON-CHASE GUARD: a move into a singleton community is
    *     only allowed toward a SMALLER label — two same-parity
    *     singletons can't swap (each would need the other's label to
    *     be smaller), the smaller-labeled one waits and the larger
    *     joins it (the min-label idiom).
    * Both gates are plain predicates on the candidate set, identical
    * in the unrolled SQL replay. The fixed round budget bounds
    * whatever residual rotation remains (never divergent).
    *
    * Scale shape mirrors [[labelPropagation]]: the symmetrized edge
    * list is checkpointed and pre-partitioned on the gather key once;
    * each round is one shuffle for the (node, community) gather, one
    * small community-degree aggregate (≤ #communities rows, shrinking
    * every round), and one argmax — the iterate is (id, lbl) only.
    *
    * The level RETURNS its symmetric edge layer, whose release the
    * caller owns: the [[bigSymCheckpoint]]-laid (u, v, w) frame with
    * BOTH orientations of every proper edge (self-loops ride once).
    * That is the one-edge-scale-checkpoint-per-composition contract:
    * [[louvainRefine]]'s intra-community CC
    * filters this exact checkpoint rather than re-symmetrizing the
    * caller's edges (which would execute the upstream plan once per
    * union branch and pin a second edge-scale block set — the r13
    * ScaleBench lesson applied ACROSS the kernel boundary). */
  private[graft] def louvainLevelKeep(nodes: DataFrame, canonEdges: DataFrame,
                                      rounds: Int): (DataFrame, DataFrame) = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // ONE edge-scale checkpoint, not two: the level originally pinned a
    // canonical copy AND its symmetrization (85M + 170M rows at the
    // 150k ScaleBench point) on top of the caller's edge frame — one
    // block set more than CC/label-prop, which pass at that point, and
    // exactly the one that broke the camel's back (UNABLE_TO_ACQUIRE
    // under 32 concurrent aggregate tasks; the betweenness double-copy
    // lesson re-learned). The symmetric view is built in a single
    // explode pass (never a self-union that re-executes the upstream
    // coarsening aggregate per branch) with self-loops riding ONCE as
    // (u, u, w) rows; degree, total weight and the per-round gather all
    // derive from this one checkpoint.
    val symPlan = canonEdges.select(col("u"), col("v"), col("w"))
      .select(explode(when(col("u") === col("v"),
          array(struct(col("u"), col("v"), col("w"))))
        .otherwise(array(
          struct(col("u"), col("v"), col("w")),
          struct(col("v").as("u"), col("u").as("v"), col("w"))))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
    // total edge weight — invariant under coarsening, so every level
    // optimizes the SAME modularity — and the symmetric row count, in
    // ONE cheap streaming pass BEFORE the checkpoint is laid out (the
    // count sizes the layout — see [[bigSymCheckpoint]]). Σ over the
    // symmetric view of (2w for loops, w otherwise) double-counts
    // every canonical edge exactly once ⇒ halving is integer-exact.
    val mc = symPlan.agg(coalesce(sum(
        when(col("u") === col("v"), col("w") * 2).otherwise(col("w"))),
      lit(0L)).cast("long"), count(lit(1))).head
    val m = mc.getLong(0) / 2
    val nSym = mc.getLong(1)
    val (sess, symAll) = bigSymCheckpoint(symPlan, nSym, "v")
    val idsIn = if (sess ne nodes.sparkSession)
      rebase(sess, nodes.select(col("id")))
    else nodes.select(col("id"))
    // the ΔQ gather must see only proper neighbours (own-community mass
    // enters via the explicit stay row) — a narrow codegen filter over
    // the checkpoint scan per round
    val sym = symAll.filter(col("u") =!= col("v"))
    // weighted degree; a self-loop contributes 2w (both endpoints) and
    // appears once in symAll, while proper edges already carry both
    // orientations
    // WIDE inputs: deg is materialized ALONE before the ids join —
    // fed lazily into the sort-merge join, its |E|-wide aggregate map
    // stage runs CONCURRENTLY with the nodes-side shuffle stage, and
    // 64 task slots' sorters starve new tasks' first page allocation
    // in a single-JVM pool (observed UNABLE_TO_ACQUIRE/got-0 at the
    // 150k point). Sequenced, the aggregate job runs with the pool to
    // itself. Narrow inputs skip the extra action.
    val wideLvl = sess ne nodes.sparkSession
    val degPlan = symAll.select(col("u").as("id"),
        when(col("u") === col("v"), col("w") * 2).otherwise(col("w")).as("kw"))
      .groupBy(col("id")).agg(sum(col("kw")).cast(dec).as("k"))
    val deg = if (wideLvl) degPlan.localCheckpoint(true) else degPlan
    val (ids, nIds) = checkpointCounted(idsIn
      .join(deg, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("k"), lit(0).cast(dec)).as("k")))
    if (wideLvl) releaseIterate(deg) // folded into ids; why pin twice
    // the iterate carries k alongside the label: sigma becomes a plain
    // aggregate (no per-round ids join) and the score chain reads
    // (cur, k) in ONE iterate join instead of two
    var lbl = ids.select(col("id"), col("k"), col("id").as("lbl"))
      .localCheckpoint(true)
    // |V|-row iterate projections (labels into the gather, (k, cur)
    // into the score chain, sigma's |C|-row community mass, the argmax
    // result) broadcast below the shared ceiling
    // ([[IterateBroadcastMaxRows]]): without the hints the scrubbed
    // iterate stats sort-merge every one of these joins, re-sorting
    // the |E|-scale gather/candidate stream several times per round.
    // Edge-gated ([[WidenRows]], nSym already counted) like the other
    // kernels: hinted rounds fuse aggregates into big-cache scan
    // stages, which measured AGGREGATE_OUT_OF_MEMORY over a plain-laid
    // edge cache at the 150k/85M single-JVM point.
    val bcOk = nIds <= IterateBroadcastMaxRows && nSym < WidenRows
    // early exit needs TWO consecutive zero-move rounds: a round where
    // the gated parity class stands pat says nothing about the OTHER
    // class, whose argmax was computed but not applied — only
    // back-to-back stands (both classes, same state) certify the
    // fixpoint, after which every remaining round is a no-op and the
    // early exit equals the oracle's full unroll
    var stillRounds = 0
    var r = 1
    while (r <= rounds && stillRounds < 2) {
      val sigma = lbl
        .groupBy(col("lbl").as("c"))
        .agg(sum(col("k")).as("st"), count(lit(1)).as("csz"))
      val gathBase = sym
        .join(bcIf(bcOk, lbl.select(col("id").as("v"), col("lbl").as("c"))),
          Seq("v"))
        .repartition(col("u"))
      // round 1 starts from singleton labels, so the gather key (u, c)
      // is UNIQUE by construction (one sym row per neighbour, c = that
      // neighbour's own id) and the |E|-wide groupBy is an identity —
      // and a worst-case ZERO-REDUCTION hash aggregate (measured: it
      // OOMs the 150k-node/85M-edge ScaleBench point under the pinned
      // edge checkpoints, 32 concurrent tasks starving the execution
      // pool). Project instead; rounds ≥ 2 keep the real aggregate,
      // whose key space has collapsed with the merged communities.
      val gath =
        if (r == 1)
          gathBase.select(col("u").as("id"), col("c"),
            col("w").cast(dec).as("kin"))
        else gathBase
          .groupBy(col("u").as("id"), col("c")).agg(sum(col("w")).cast(dec).as("kin"))
      // the stay option rides as an explicit (id, own community, 0)
      // candidate row unioned BEFORE the score chain — no re-aggregate
      // of the big gather: when the node has neighbours in its own
      // community the gathered cur row (kin > 0) strictly dominates
      // the zero stay row in the argmax, so the max is unchanged
      val cand = gath.unionByName(
        lbl.select(col("id"), col("lbl").as("c"), lit(0).cast(dec).as("kin")))
      val scored = cand
        .join(bcIf(bcOk,
          lbl.select(col("id"), col("k"), col("lbl").as("cur"))), Seq("id"))
        .join(bcIf(bcOk, sigma), Seq("c"))
        // singleton-chase guard: stay is always a candidate; a
        // singleton target only from a larger-labeled community
        .filter(col("c") === col("cur") || col("csz") > 1 ||
          col("c") < col("cur"))
        .select(col("id"), col("c"),
          (lit(2).cast(dec) * lit(m).cast(dec) * col("kin") -
            col("k") * (col("st") -
              when(col("c") === col("cur"), col("k"))
                .otherwise(lit(0).cast(dec)))).as("score"))
      // ΔQ argmax with min-community tiebreak. Deliberately NOT the
      // top1PerGroup heap: `best` is BROADCAST into the adopt join
      // below, and the r20 A/B measured the heap-under-
      // BroadcastExchange round shape at +311% / +338% / +240% wall
      // (g_louvain 10.3 → 42.5 s, louvain_weighted 9.2 → 40.4,
      // community_refine 13.7 → 46.6, min-of-5 same window) at
      // IDENTICAL task time (29.6 vs 28.3 s) and job count — the cost
      // is driver-side AQE stage scheduling per round, not compute —
      // while the same swap won 14-17% where the heap output is joined,
      // not broadcast (kmeans/IVF/PQ assigns).
      val best = scored.groupBy(col("id"))
        .agg(max(struct(col("score"), (-col("c")).as("neg"))).as("b"))
        .select(col("id"), (-col("b.neg")).as("blbl"))
      // parity gate: only id % 2 == r % 2 adopts its argmax this round
      // ONE job: the moved-count probe materializes the lazy checkpoint
      val (next, moved) = checkpointPredCounted(
        lbl.join(bcIf(bcOk, best), Seq("id"))
          .select(col("id"), col("k"), col("lbl").as("old"),
            when(pmod(col("id"), lit(2)) === lit(r % 2), col("blbl"))
              .otherwise(col("lbl")).as("lbl")),
        col("lbl") =!= col("old"))
      stillRounds = if (moved == 0) stillRounds + 1 else 0
      releaseIterate(lbl)
      lbl = next.select(col("id"), col("k"), col("lbl"))
      r += 1
    }
    releaseIterate(ids)
    (lbl.select(col("id"), col("lbl")), symAll)
  }

  /** Louvain community detection (Blondel et al. 2008), deterministic
    * synchronous variant: [[LouvainLevels]] levels of [[LouvainRounds]]
    * local-move rounds each, with the graph COARSENED between levels
    * (communities become super-nodes; parallel edges merge into
    * weights; intra-community edges become self-loops, preserving
    * total weight and hence the modularity objective). Returns
    * (id, community) for every input node — the level-2 community of
    * each node's level-1 super-node. The modularity-optimizing upgrade
    * over [[labelPropagation]]: frequency-vote label prop absorbs
    * small dense clusters into whatever label is locally loudest,
    * while the ΔQ argmax explicitly trades intra-community mass
    * against community degree. */
  /** `canonicalDistinct = true` declares the input edge list CANONICAL
    * AND DISTINCT (each undirected pair once) — then the level-1
    * multiplicity aggregate is an identity (every w = 1) and is
    * SKIPPED. This is not a semantic knob, it is the level-1 memory
    * shape at scale: `groupBy(u, v).count` over 85M already-unique
    * keys is a worst-case hash aggregate (zero reduction, full-width
    * key space) that measurably OOMs the 150k-node ScaleBench point
    * under the pinned caller edge checkpoint, for a value the caller
    * already knows. The similarity graph (and any deduped edge table a
    * production pipeline materializes) is canonical-distinct by
    * construction; multigraph inputs keep the default aggregate path.
    * The SQL oracle's GROUP BY/COUNT(*) replay is unchanged — on
    * canonical-distinct input the two plans are value-identical. */
  def louvain(nodes: DataFrame, edges: DataFrame,
              rounds: Int = LouvainRounds,
              levels: Int = LouvainLevels,
              canonicalDistinct: Boolean = false): DataFrame = {
    val canon = edges.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
    louvainOn(nodes,
      if (canonicalDistinct) canon.select(col("u"), col("v"), lit(1L).as("w"))
      else canon.groupBy(col("u"), col("v")).agg(count(lit(1)).as("w")),
      rounds, levels)
  }

  /** WEIGHTED Louvain: identical machinery, but the level-1 edge
    * weight is the caller's integer `w` column (summed over parallel
    * edges) instead of the edge multiplicity — so the ΔQ argmax trades
    * INTEGER EDGE STRENGTH, not just adjacency. The weights must be
    * integers (quantize upstream): the whole score chain, the m total
    * and the SQL oracle replay run in exact decimal/HUGEINT arithmetic
    * precisely because w never carries a float. `edges`:
    * (src, dst, w). */
  def louvainWeighted(nodes: DataFrame, edges: DataFrame,
                      rounds: Int = LouvainRounds,
                      levels: Int = LouvainLevels,
                      canonicalDistinct: Boolean = false): DataFrame = {
    // the integer-w contract is load-bearing, not advisory: a float w
    // would truncate in the m total (cast to long) while degree sums
    // stay fractional, silently skewing the ΔQ argmax and breaking
    // Spark/oracle parity — fail loudly at the entry point instead
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val wType = edges.schema("w").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(wType),
      s"louvainWeighted: w must be an integral column (got $wType) — " +
        "quantize float weights upstream; the exact decimal score " +
        "chain and the SQL oracle replay depend on integer w")
    val canon = edges.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"), col("w"))
    louvainOn(nodes,
      if (canonicalDistinct) canon
      else canon.groupBy(col("u"), col("v")).agg(sum(col("w")).as("w")),
      rounds, levels)
  }

  private def louvainOn(nodes: DataFrame, canon0: DataFrame,
                        rounds: Int, levels: Int): DataFrame =
    louvainOnLayer(nodes, canon0, rounds, levels, keepLayer = false)._1

  /** [[louvainOn]] with the LEVEL-1 symmetric layer optionally kept
    * alive and returned (null when `keepLayer` is false, or trivially
    * when levels < 1) — coarse levels' layers are always released as
    * before (they are |communities|-sized, rebuilt cheaply, and no
    * composition wants them). */
  private def louvainOnLayer(nodes: DataFrame, canon0: DataFrame,
                             rounds: Int, levels: Int,
                             keepLayer: Boolean)
      : (DataFrame, DataFrame) = {
    // BOUNDED-COLLECT SHORTCUT (the [[unionFindLabels]] class of gate):
    // below [[Gates.edges]] canonical edges the whole
    // level/round stack — every ΔQ gather, sigma aggregate, argmax,
    // parity adopt and the inter-level coarsening — runs in one driver
    // loop over the collected (u, v, w) rows instead of ~6 AQE stage
    // jobs per round per level. [[louvainLevelLocal]] replays the
    // distributed semantics op for op in exact 128-bit integer
    // arithmetic, so labels are identical by construction; LouvainSpec
    // pins local == distributed on random weighted/unweighted graphs.
    // The count probe is a cheap scan for every registered caller
    // (canonical-distinct projections of a materialized checkpoint).
    // Above the gate the distributed loop stands — the 10^10-node
    // regime. `keepLayer` callers gate in [[louvainRefine]] instead
    // (their refine pass folds into the same collect).
    if (!keepLayer && canon0.count() <= Gates.edges) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val (g, ws) = LocalGraph.collectLongW(canon0, "u", "v", "w")
      val comm = louvainLocalLevels(g, ws, rounds, levels)
      // nodes off the edge list keep themselves (the stay-row fixpoint)
      return (LocalGraph.attach(nodes.select(col("id")),
        LocalGraph.relation(spark, g.ids.indices.map(i => (g.ids(i), comm(i))),
          "id", "community"))(
        col("id"), coalesce(col("community"), col("id")).as("community")), null)
    }
    var canon = canon0
    var curNodes = nodes.select(col("id"))
    var mapping: DataFrame = null
    var prevLbl: DataFrame = null
    var kept: DataFrame = null
    for (lvl <- 1 to levels) {
      val (lbl, layer) = louvainLevelKeep(curNodes, canon, rounds)
      if (lvl == 1 && keepLayer) kept = layer
      else releaseIterate(layer)
      // louvainLevelKeep eagerly checkpointed its edge/node inputs, so the
      // PREVIOUS level's label iterate (which fed this level's coarse
      // graph lazily) has no live reader left
      releaseIterate(prevLbl)
      prevLbl = lbl
      val next =
        if (mapping == null) lbl.select(col("id"), col("lbl").as("community"))
        else mapping
          .join(lbl.select(col("id").as("community"), col("lbl").as("c2")),
            Seq("community"))
          .select(col("id"), col("c2").as("community"))
      val nextCk = next.localCheckpoint(true)
      releaseIterate(mapping)
      mapping = nextCk
      if (lvl < levels) {
        canon = canon
          .join(lbl.select(col("id").as("u"), col("lbl").as("cu")), Seq("u"))
          .join(lbl.select(col("id").as("v"), col("lbl").as("cv")), Seq("v"))
          .select(least(col("cu"), col("cv")).as("u"),
            greatest(col("cu"), col("cv")).as("v"), col("w"))
          .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
        curNodes = lbl.select(col("lbl").as("id")).distinct()
      }
    }
    releaseIterate(prevLbl) // mapping checkpoint was the last reader
    (mapping, kept)
  }

  /** Driver-local twin of ONE [[louvainLevelKeep]] round stack over
    * canonical (u, v, w) arrays — self-loops allowed (coarse levels).
    * Replays the distributed semantics operation for operation, in
    * EXACT integer arithmetic: the score
    * 2m·k_{i,in}(C) − k_i·(Σ_tot(C) − [i ∈ C]·k_i) is evaluated as a
    * signed 128-bit product difference (`Math.multiplyHigh`) — the JVM
    * twin of the DECIMAL(38,0) chain, never a double — with the same
    * argmax total order (score desc, community id asc), the same
    * candidate set (gathered neighbour communities + the explicit stay
    * row, whose kin = the gathered own-community mass dominates the
    * zero stay row exactly as the distributed union does), the same
    * singleton-chase guard and the same parity adopt
    * (`Math.floorMod(id, 2)` = `pmod`). Runs the FULL round budget —
    * the distributed early exit only skips proven no-op rounds, and
    * the oracle unrolls the full budget, so the full unroll is the
    * ground truth both converge to. Index order = id order, so index
    * comparisons below replay id comparisons. Returns the label INDEX
    * per node. */
  private def louvainLevelLocal(g: LocalGraph, ws: Array[Long],
                                rounds: Int): Array[Int] = {
    val n = g.n
    val ids = g.ids
    val m2 = 2L * ws.sum // total canonical weight = the invariant m
    // CSR over PROPER edges (both orientations, weights); self-loop
    // mass goes to k only (2w) — the gather sees proper neighbours
    // only, exactly the symAll filter
    val selfW = new Array[Long](n)
    var i = 0
    while (i < g.m) {
      if (g.src(i) == g.dst(i)) selfW(g.src(i)) += ws(i)
      i += 1
    }
    val (img, slotEdge) = g.csr(both = true, keep = e => g.src(e) != g.dst(e))
    val offs = img.offs; val flat = img.flat
    val fw = slotEdge.map(ws(_))
    val k = new Array[Long](n) // weighted degree: 2·selfW + Σ proper w
    var x = 0
    while (x < n) {
      var kk = 2L * selfW(x)
      var j = offs(x)
      while (j < offs(x + 1)) { kk += fw(j); j += 1 }
      k(x) = kk
      x += 1
    }
    var lbl = Array.tabulate(n)(identity) // label INDEX (= label id order)
    var nlbl = new Array[Int](n)
    val st = new Array[Long](n); val csz = new Array[Long](n)
    val kin = new Array[Long](n); val touched = new Array[Int](n)
    val mark = new Array[Int](n); var stamp = 0
    var r = 1
    while (r <= rounds) {
      java.util.Arrays.fill(st, 0L); java.util.Arrays.fill(csz, 0L)
      i = 0
      while (i < n) { st(lbl(i)) += k(i); csz(lbl(i)) += 1; i += 1 }
      var u = 0
      while (u < n) {
        val cur = lbl(u)
        stamp += 1
        var nt = 0
        var j = offs(u)
        while (j < offs(u + 1)) { // gather kin per neighbour community
          val c = lbl(flat(j))
          if (mark(c) != stamp) { mark(c) = stamp; kin(c) = 0L; touched(nt) = c; nt += 1 }
          kin(c) += fw(j)
          j += 1
        }
        val ku = k(u)
        // stay candidate: kin = gathered own-community mass (0 if none)
        val kinCur = if (mark(cur) == stamp) kin(cur) else 0L
        var bestC = cur
        var aHi = Math.multiplyHigh(m2, kinCur); var aLo = m2 * kinCur
        val sm = st(cur) - ku
        var bHi = Math.multiplyHigh(ku, sm); var bLo = ku * sm
        var bestLo = aLo - bLo
        var bestHi = aHi - bHi -
          (if (java.lang.Long.compareUnsigned(aLo, bLo) < 0) 1L else 0L)
        var t = 0
        while (t < nt) {
          val c = touched(t)
          // singleton-chase guard (c == cur was evaluated as the stay)
          if (c != cur && (csz(c) > 1 || c < cur)) {
            aHi = Math.multiplyHigh(m2, kin(c)); aLo = m2 * kin(c)
            bHi = Math.multiplyHigh(ku, st(c)); bLo = ku * st(c)
            val sLo = aLo - bLo
            val sHi = aHi - bHi -
              (if (java.lang.Long.compareUnsigned(aLo, bLo) < 0) 1L else 0L)
            val cmp = if (sHi != bestHi) java.lang.Long.compare(sHi, bestHi)
              else java.lang.Long.compareUnsigned(sLo, bestLo)
            if (cmp > 0 || (cmp == 0 && c < bestC)) {
              bestC = c; bestHi = sHi; bestLo = sLo
            }
          }
          t += 1
        }
        // parity gate (pmod): only id % 2 == r % 2 adopts this round
        nlbl(u) = if (Math.floorMod(ids(u), 2L) == (r % 2).toLong) bestC else cur
        u += 1
      }
      val tmp = lbl; lbl = nlbl; nlbl = tmp
      r += 1
    }
    lbl
  }

  /** The gated louvain stack: [[louvainLevelLocal]] per level with the
    * SAME coarsening as [[louvainOnLayer]] (communities become
    * super-nodes keyed canonically by label id, parallel edges merge
    * into summed weights, intra-community edges become self-loops) and
    * the same inner mapping composition. Nodes absent from the edge
    * list stay their own community at every level (their only
    * candidate is the stay row), so callers re-attach them with a
    * coalesce. Returns the community id per node of `g0` (every
    * edge-endpoint node). */
  private def louvainLocalLevels(g0: LocalGraph, ws0: Array[Long],
      rounds: Int, levels: Int): Array[Long] = {
    var g = g0; var curWs = ws0
    var comm: Array[Long] = null
    var lvl = 1
    while (lvl <= levels) {
      val llbl = louvainLevelLocal(g, curWs, rounds)
      if (lvl == 1) comm = llbl.map(g.ids(_))
      else {
        var i = 0
        while (i < comm.length) {
          val j = g.index(comm(i))
          if (j >= 0) comm(i) = g.ids(llbl(j)) // coarse isolates keep themselves
          i += 1
        }
      }
      if (lvl < levels) {
        // coarsen: canonical (min label, max label) by INDEX (index
        // order = id order), weights summed — self-loops included
        val mE = g.m
        val keys = new Array[Long](mE)
        var i = 0
        while (i < mE) {
          val a = llbl(g.src(i))
          val b = llbl(g.dst(i))
          keys(i) = if (a <= b) (a.toLong << 32) | b.toLong
            else (b.toLong << 32) | a.toLong
          i += 1
        }
        val distinct = keys.clone()
        java.util.Arrays.sort(distinct)
        var nd = 0
        i = 0
        while (i < mE) {
          if (nd == 0 || distinct(nd - 1) != distinct(i)) {
            distinct(nd) = distinct(i); nd += 1
          }
          i += 1
        }
        val sums = new Array[Long](nd)
        i = 0
        while (i < mE) {
          sums(java.util.Arrays.binarySearch(distinct, 0, nd, keys(i))) +=
            curWs(i)
          i += 1
        }
        val nus = new Array[Long](nd); val nvs = new Array[Long](nd)
        i = 0
        while (i < nd) {
          nus(i) = g.ids((distinct(i) >>> 32).toInt)
          nvs(i) = g.ids((distinct(i) & 0xffffffffL).toInt)
          i += 1
        }
        g = LocalGraph(nus, nvs)
        curWs = java.util.Arrays.copyOf(sums, nd)
      }
      lvl += 1
    }
    comm
  }

  /** Borůvka round cap for [[boruvkaMst]]: components at least HALVE
    * every round, so 16 covers components of 2^16 nodes; the loop
    * early-exits the round after no component has an outgoing edge. */
  val MstMaxRounds = 16

  /** Minimum spanning FOREST via distributed Borůvka — the classic
    * O(E log V) parallel MST (Borůvka 1926; the algorithm of choice on
    * shared-nothing engines because every round is two keyed
    * aggregates, never a global sort): each round, every component
    * picks its lightest outgoing edge under the TOTAL order
    * (w, u, v) — unique since canonical (u, v) is unique — the picked
    * edges join the forest, and touching components contract via the
    * CC kernel on the (component, partner) merge graph, which shrinks
    * by ≥2× per round. Deterministic by construction: min over a total
    * order, min-label contraction — no randomness, so a SQL oracle
    * replays it round for round.
    *
    * Input: `nodes` (id), `edges` (u, v, w) with u < v canonical and
    * (u, v) distinct. The edge frame is referenced EVERY round, so the
    * caller passes it MATERIALIZED (checkpointed or scan-cheap) — the
    * kernel deliberately does NOT checkpoint it: a second pinned copy
    * of the biggest table in the job is exactly the duplicated-edge-
    * checkpoint OOM the betweenness kernel hit at the 150k/85M scale
    * point (and this kernel re-hit, measured — 8g heap died in the
    * round-1 pick until the copy was removed). Returns (forest
    * (u, v, w), final components (id, c)) — the component table
    * doubles as the graph's connected components (Borůvka has
    * converged exactly when every component is edge-saturated), which
    * the weight report reuses for free.
    *
    * Scale shape per round: the full edge set re-labels through two
    * id-keyed hash joins against the (shrinking, checkpointed)
    * component table — the unavoidable Borůvka cost; the pick is one
    * map-side-combined struct-min per component; the contraction CC
    * runs on a merge graph whose size is |components|, not |V|.
    * [[freshStats]] between rounds keeps the nested-kernel composition
    * from compounding Catalyst stats ([[refinePartition]]'s lesson). */
  private[graft] def boruvkaMst(nodesIn: DataFrame, edgesIn: DataFrame,
                                maxRounds: Int = MstMaxRounds)
      : (DataFrame, DataFrame) = {
    // BOUNDED-COLLECT SHORTCUT (the [[unionFindLabels]] class of gate):
    // below [[Gates.edges]] edges the whole pick+contract
    // round stack runs in one driver loop over the collected
    // (u, v, w) rows — [[boruvkaMstLocal]] replays the distributed
    // semantics op for op (same per-component struct-min total order,
    // same min-member contraction, same round budget), so forest and
    // component tables are identical by construction; AlgorithmsSpec
    // pins local == distributed on a random weighted graph. The count
    // probe is one narrow pass over the caller-materialized edge frame
    // (the kernel's input contract) and doubles as the broadcast-gate
    // count the loop needed anyway. Above the gate the distributed
    // loop stands — the 10^10-node regime.
    if (edgesIn.count() <= Gates.edges)
      return boruvkaMstLocal(nodesIn, edgesIn, maxRounds)
    // The per-component argmin is a min over a STRUCT — not a mutable
    // primitive, so it plans as ObjectHashAggregate, whose default
    // fallback (spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // = 128 groups) degrades the round-1 pick into an EXTERNAL SORT of
    // the full 2|E| candidate stream. Measured at the 150k/85M scale
    // point: 32 concurrent sorters under the pinned edge checkpoint
    // exhaust an 8g heap. A component-count hash map is what we want —
    // ~100 B per live group, so even 10^6 components is ~100 MB spread
    // over the executors — hence the raised threshold, scoped to a
    // CHILD session (the [[loopSession]] idiom: never mutate the
    // caller's conf).
    val s = nodesIn.sparkSession.newSession()
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 26).toString)
    val edges = rebase(s, edgesIn.select(col("u"), col("v"), col("w")))
    // ONE job: the broadcast-gate count below materializes the checkpoint
    val (comp0, nComp) = checkpointCounted(rebase(s, nodesIn.select(col("id")))
      .select(col("id"), col("id").as("c")))
    var comp = comp0
    // the shrinking component table broadcast into the per-round edge
    // relabel (two joins over the FULL edge set otherwise sort-merge
    // re-sorted every round under the iterate's scrubbed stats) —
    // same ceiling + single-JVM edge gate as the other kernels
    // ([[IterateBroadcastMaxRows]] / [[WidenRows]]; the caller passes
    // `edgesIn` materialized, so the gate count is one narrow pass).
    // sf0.1 A/B: NEUTRAL within the min-of-5 spread (the pick's
    // ObjectHashAggregate dominates the round, not the joins) — kept
    // for the plan shape: two fewer full-edge sorts per round.
    val bcOk = nComp <= IterateBroadcastMaxRows &&
      edges.count() < WidenRows
    val empty = edges.limit(0).localCheckpoint(true)
    var forest = empty
    var r = 0
    var live = true
    while (r < maxRounds && live) {
      val ce = edges
        .join(bcIf(bcOk, comp.select(col("id").as("u"), col("c").as("cu"))),
          Seq("u"))
        .join(bcIf(bcOk, comp.select(col("id").as("v"), col("c").as("cv"))),
          Seq("v"))
        .filter(col("cu") =!= col("cv"))
      // ONE pass: explode each inter-component edge into its two
      // (component, candidate) records — a union of two projections of
      // `ce` would re-execute the 2-join subtree per branch (measured:
      // the doubled scan at the 150k/85M point drove concurrent
      // block-promotion past an 8g heap)
      val out = ce.select(explode(array(
        struct(col("cu").as("cc"),
          struct(col("w"), col("u"), col("v"), col("cv").as("o")).as("e")),
        struct(col("cv").as("cc"),
          struct(col("w"), col("u"), col("v"), col("cu").as("o")).as("e"))))
        .as("x")).select(col("x.cc").as("cc"), col("x.e").as("e"))
      // ONE job for the pick: the count materializes the lazy
      // checkpoint AND is the emptiness probe (the former eager
      // checkpoint + isEmpty pair was two jobs per round)
      val (pick, nPick) = checkpointCounted(
        out.groupBy(col("cc")).agg(min(col("e")).as("e"))
          .select(col("cc"), col("e.w").as("w"), col("e.u").as("u"),
            col("e.v").as("v"), col("e.o").as("o")))
      if (nPick == 0) {
        // the terminal probe's checkpoint never joins the forest union
        // — release it or every run leaves one pinned empty iterate
        releaseIterate(pick)
        live = false
      } else {
        forest = forest.union(
          pick.select(col("u"), col("v"), col("w")).distinct())
        val mp = pick.select(least(col("cc"), col("o")).as("src"),
          greatest(col("cc"), col("o")).as("dst")).distinct()
        // a round-1 merge graph on a path-shaped input with monotone
        // weights is a ~n-component chain in adversarial id order —
        // label propagation's worst case; the CC kernel's star
        // alternation is O(log² n) on ANY shape
        val cmap = connectedComponents(
          comp.select(col("c").as("id")).distinct(), mp)
        val next = freshStats(
          comp.join(cmap.withColumnRenamed("id", "c"), Seq("c"))
            .select(col("id"), col("comp").as("c"))).localCheckpoint(true)
        // `next` is materialized: the round's contraction-CC output
        // (cmap's final star-edge checkpoint) and the superseded
        // component iterate are both dead — release them, or a k-round
        // run pins k merge-graph-sized block sets
        releaseIterate(cmap)
        releaseIterate(comp)
        comp = next
      }
      r += 1
    }
    // rounds' picks are disjoint (a chosen edge becomes intra-component
    // immediately), so the union needs no cross-round dedup; checkpoint
    // so both consumers (edge list + weight report) materialize once.
    // Both outputs leave through [[freshStats]]: the loop's checkpoints
    // carry ~maxRounds of compounded join statistics, and feeding them
    // into ANOTHER kernel's loop (the threshold sweep runs CC over the
    // forest) re-creates the BigInt stats hang refinePartition hit.
    val fmat = forest.localCheckpoint(true)
    // fmat is materialized, so the accumulated per-round pick
    // checkpoints (the union's leaves) are dead — one release walks the
    // whole union plan and frees them all
    releaseIterate(forest)
    (freshStats(fmat), freshStats(comp))
  }

  /** Driver-local twin of [[boruvkaMst]]'s round loop (gated there).
    * Replays the distributed semantics operation for operation: per
    * round, each component's pick = min over its inter-component
    * candidates of struct(w, u, v, other) — `java.lang.Double.compare`
    * on w, the struct ordering Spark's min aggregate applies — then
    * within-round forest dedup, merge-graph contraction rooted at the
    * minimum component id (the CC kernel's comp = min-member
    * contract), and the same round budget / emptiness exit. Off-edge
    * nodes re-attach through the component left join (own id — the
    * init's singleton row). */
  private def boruvkaMstLocal(nodesIn: DataFrame, edgesIn: DataFrame,
                              maxRounds: Int): (DataFrame, DataFrame) = {
    val spark = nodesIn.sparkSession
    import spark.implicits._
    val (g, ws) = LocalGraph.collectDoubleW(edgesIn, "u", "v", "w")
    val mE = g.m
    val n = g.n
    val ids = g.ids
    val ui = g.src; val vi = g.dst
    val comp = ids.clone() // component label per endpoint node
    // struct(w, u, v, o) lexicographic-min — the aggregate's order
    def lt(aw: Double, au: Long, av: Long, ao: Long,
           bw: Double, bu: Long, bv: Long, bo: Long): Boolean = {
      val cw = java.lang.Double.compare(aw, bw)
      if (cw != 0) cw < 0
      else if (au != bu) au < bu
      else if (av != bv) av < bv
      else ao < bo
    }
    val forest = Array.newBuilder[(Long, Long, Double)]
    var r = 0
    var live = true
    while (r < maxRounds && live) {
      val picks = new java.util.HashMap[java.lang.Long, (Double, Long, Long, Long)]()
      def offer(cc: Long, w: Double, u: Long, v: Long, o: Long): Unit = {
        val old = picks.get(cc)
        if (old == null || lt(w, u, v, o, old._1, old._2, old._3, old._4))
          picks.put(cc, (w, u, v, o))
      }
      var i = 0
      while (i < mE) {
        val cu = comp(ui(i)); val cv = comp(vi(i))
        if (cu != cv) {
          offer(cu, ws(i), ids(ui(i)), ids(vi(i)), cv)
          offer(cv, ws(i), ids(ui(i)), ids(vi(i)), cu)
        }
        i += 1
      }
      if (picks.isEmpty) live = false
      else {
        // within-round pick dedup (both endpoints may pick one edge)
        val seen = new java.util.HashSet[(Long, Long, Double)]()
        // min-id-rooted union-find over the merge graph's component ids
        // (component ids are member ids, so they index the dictionary)
        val uf = new LocalGraph.UnionFind(n)
        val it = picks.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (w, u, v, o) = e.getValue
          if (seen.add((u, v, w))) forest += ((u, v, w))
          uf.union(g.index(e.getKey), g.index(o))
        }
        i = 0
        while (i < n) { comp(i) = ids(uf.find(g.index(comp(i)))); i += 1 }
      }
      r += 1
    }
    // canonical row order (the pick-map iteration order is not
    // deterministic; the output is set-semantic — consumers order —
    // but a deterministic artifact keeps reruns byte-comparable)
    val fRows = forest.result().sortBy(t => (t._1, t._2))
    val forestDf = LocalGraph.relation(spark, fRows.toIndexedSeq, "u", "v", "w")
    val compDf = LocalGraph.attach(nodesIn.select(col("id")),
      LocalGraph.relation(spark, ids.indices.map(j => (ids(j), comp(j))),
        "id", "c"))(col("id"), coalesce(col("c"), col("id")).as("c"))
    (forestDf, compDf)
  }

  /** Leiden-style refinement kernel: split every community of `labels`
    * (id, community) into its genuinely-CONNECTED parts — connected
    * components restricted to the INTRA-community edges of `edges`
    * (src, dst). Returns (node, community, refined_community, n_parts,
    * was_split): refined label = min member id of the part (singletons
    * included via the CC kernel's node-union contract), n_parts = how
    * many parts the community fell into, was_split = the audit flag.
    * The caller hands a CHECKPOINTED `labels` (see [[freshStats]] for
    * why a loop output must be re-rooted before composing into another
    * loop). Plan: two id-keyed joins filter the edge set, the CC
    * kernel runs on a subset of its usual input, and the audit
    * aggregate keys on |communities|. */
  private[graft] def refinePartition(nodes: DataFrame, edges: DataFrame,
                                     labels: DataFrame): DataFrame = {
    // the intra-community edge PLAN goes to the CC kernel as is: its
    // init canonicalizes, dedups and checkpoints in one pass, so this
    // 2-join filter executes exactly once
    val intra = edges
      .join(labels.select(col("id").as("src"), col("community").as("ca")),
        Seq("src"))
      .join(labels.select(col("id").as("dst"), col("community").as("cb")),
        Seq("dst"))
      .filter(col("ca") === col("cb"))
      .select(col("src"), col("dst"))
    val joined = labels.join(connectedComponents(nodes, intra), Seq("id"))
    val parts = joined.groupBy(col("community"))
      .agg(countDistinct(col("comp")).as("n_parts"))
    joined.join(parts, Seq("community"))
      .select(col("id").as("node"), col("community"),
        col("comp").as("refined_community"), col("n_parts"),
        (col("n_parts") > 1).cast("int").as("was_split"))
  }

  /** The `g_community_refine` composition as ONE kernel: Louvain, then
    * the Leiden-style connectivity refinement of its final labels —
    * with the level-1 symmetric edge layer built ONCE and shared
    * between the ΔQ rounds and the intra-community CC
    * ([[louvainOnLayer]] keeps it; [[refinePartition]] filters it). Calling [[louvain]] then [[refinePartition]] separately is
    * value-identical but re-symmetrizes and re-checkpoints the edge
    * set the level already laid out — measured 434.9 s vs louvain's
    * 260.8 s at the 150k/85M ScaleBench point, most of the gap being
    * exactly that duplicate edge-scale work. Output schema =
    * [[refinePartition]]'s. */
  def louvainRefine(nodes: DataFrame, edges: DataFrame,
                    rounds: Int = LouvainRounds,
                    levels: Int = LouvainLevels,
                    canonicalDistinct: Boolean = false): DataFrame = {
    val canon = edges.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
    val canonW =
      if (canonicalDistinct) canon.select(col("u"), col("v"), lit(1L).as("w"))
      else canon.groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    // BOUNDED-COLLECT SHORTCUT, the composition variant of the
    // [[louvainOnLayer]] gate: ONE collect feeds the louvain level
    // stack AND the intra-community CC (a min-label union-find over
    // the same pairs restricted to equal labels — exactly
    // [[connectedComponents]]' comp = min-member contract on the
    // intra edge subset) AND the part-count audit. Nodes off the edge
    // list re-attach through the left join (community = refined = own
    // id, n_parts = 1), the distributed stay-row/CC-singleton
    // fixpoint. Labels and parts identical by construction; LouvainSpec
    // pins gated == distributed row sets.
    if (canonW.count() <= Gates.edges)
      return louvainRefineLocal(nodes, canonW, rounds, levels)
    val (mapping, layer) =
      louvainOnLayer(nodes, canonW, rounds, levels, keepLayer = true)
    // re-root before composing into the CC loop (the compounded-stats
    // guard) and materialize: the refine plan reads the labels four
    // times (two intra sides + the audit join pair)
    val lbl = freshStats(mapping).localCheckpoint(true)
    releaseIterate(mapping)
    // the layer holds both orientations of every edge, which the CC
    // init's canonical distinct folds: the intra filter is one pass over
    // this exact checkpoint, never a second pass over the caller's edges
    val out = refinePartition(nodes,
      layer.select(col("u").as("src"), col("v").as("dst")), lbl)
    releaseIterate(layer) // the CC init materialized the intra subset
    out
  }

  /** Driver side of [[louvainRefine]]'s gate: local louvain labels,
    * local intra-community union-find (roots = min member id), local
    * part counts, one narrow left join to cover off-edge nodes. Output
    * schema and values = [[refinePartition]]'s. */
  private def louvainRefineLocal(nodes: DataFrame, canonW: DataFrame,
                                 rounds: Int, levels: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val (g, ws) = LocalGraph.collectLongW(canonW, "u", "v", "w")
    val lbls = louvainLocalLevels(g, ws, rounds, levels)
    val ids = g.ids
    val n = g.n
    // intra-community CC: union-find over proper pairs with equal
    // labels (root = min member id)
    val root = g.roots(e => g.src(e) != g.dst(e) &&
      lbls(g.src(e)) == lbls(g.dst(e)))
    val refined = root.map(ids(_))
    // n_parts = distinct refined roots per community
    val parts = new java.util.HashMap[java.lang.Long,
      java.util.HashSet[java.lang.Long]](n * 2)
    var i = 0
    while (i < n) {
      parts.computeIfAbsent(lbls(i), _ => new java.util.HashSet[java.lang.Long]())
        .add(refined(i))
      i += 1
    }
    val audit = LocalGraph.relation(spark,
      ids.indices.map(i => (ids(i), lbls(i), refined(i),
        parts.get(lbls(i)).size.toLong)),
      "id", "community", "refined_community", "n_parts")
    LocalGraph.attach(nodes.select(col("id")), audit)(col("id").as("node"),
      coalesce(col("community"), col("id")).as("community"),
      coalesce(col("refined_community"), col("id")).as("refined_community"),
      coalesce(col("n_parts"), lit(1L)).as("n_parts"),
      (coalesce(col("n_parts"), lit(1L)) > 1).cast("int").as("was_split"))
  }

  /** Round budget for [[walkCounts]] — fixed SHORT on purpose: the
    * iterate is the power method on the adjacency matrix, and t rounds
    * count walks of length t, whose magnitude grows like (mean deg)^t;
    * 4 rounds already separates hubs from periphery (the ranking is
    * what eigenvector centrality is for) while keeping every count
    * below ~deg⁴ ≈ 1.7×10¹² at the 85M-edge dense point — exact in
    * int64 for BOTH engines, no normalization step whose float
    * division would break oracle parity. */
  val EigenWalkRounds = 4

  /** Unnormalized eigenvector centrality in EXACT integers: x₀ = 1,
    * xₜ₊₁ = A·xₜ over the undirected view of `edges`, so xₜ(v) = the
    * number of t-step walks ending at v — the power-method iterate
    * whose direction converges to the principal eigenvector
    * (Bonacich 1987), with the usual per-round normalization REPLACED
    * by exact integer counts (rankings are scale-invariant; the
    * oracle replays integer sums unconditionally, where normalized
    * doubles would need the 12-dp quantization contract). A
    * [[gatherRounds]] program; a caller that already counted its edges
    * passes `nSymHint` (2·|E|) and the kernel skips its own count. */
  def walkCounts(nodes: DataFrame, edges: DataFrame,
                 rounds: Int = EigenWalkRounds,
                 nSymHint: Long = -1L): DataFrame =
    gatherRounds(new GatherProgram[Long](Encoders.scalaLong) {
      val symmetric = true
      val init = lit(1L)
      def combine(msgs: DataFrame): DataFrame =
        msgs.groupBy(col("id")).agg(sum(col("m")).as("agg"))
      val update = coalesce(col("agg"), lit(0L))
      def local(rows: Array[Row], odeg: Array[Long]): GatherLocal[Long] = new GatherLocal[Long] {
        def init(i: Int): Long = 1L
        def fold(own: Long, m: Array[Long], snd: Array[Int], lo: Int, hi: Int): Long = {
          var s = 0L; var j = lo
          while (j < hi) { s += m(snd(j)); j += 1 }
          s
        }
      }
    }, nodes.select(col("id")).distinct(), edges, rounds,
      if (nSymHint >= 0) nSymHint / 2 else -1L)
      .select(col("id"), col("x").as("walks"))

  /** PageRank, fixed iteration count, damping d: [[personalizedPageRank]]
    * with every node a seed, so the teleport and dangling terms divide
    * by the node count. Ranks are quantized to 12 dp each iteration, so
    * the unrolled DuckDB oracle replays the loop exactly. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 10,
               damping: Double = 0.85): DataFrame =
    seededRank(nodes, edges, None, iters, damping)

  /** Personalized PageRank (random walk with restart): the teleport
    * mass — and the dangling redistribution — lands ONLY on the seed
    * set (uniformly, 1/|S|), so the stationary ranks measure proximity
    * to the seeds instead of global importance. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iters: Int = 10,
                           damping: Double = 0.85): DataFrame =
    seededRank(nodes, edges, Some(seeds), iters, damping)

  /** The PageRank program over directed edges (no seed set = every node
    * a seed). Each node sends rank/out-degree along its out-edges; the
    * out-degree counts every edge, so mass sent to an id that is not a
    * node row is lost, and a node with no out-edge is dangling: its
    * rank is the program's global, folded back in as a broadcast 1-row
    * aggregate. Ranks are quantized to 12 dp each iteration: the
    * contrib and dangling sums are double additions whose order is run-
    * and engine-dependent (~1e-18 noise), and quantizing makes every
    * iterate bit-deterministic, so the unrolled DuckDB oracle replays
    * the loop exactly; the driver fold's summation order is one more
    * such order. The teleport constant is derived in decimal: (1 − 0.85)
    * in binary doubles is 1 ulp away from the literal 0.15 a SQL oracle
    * parses, which would skew every iterate by ~1e-17 and make the
    * quantization a coin flip near rounding boundaries. */
  private def seededRank(nodes: DataFrame, edges: DataFrame,
                         seeds: Option[DataFrame], iters: Int,
                         damping: Double): DataFrame = {
    val reset = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble
    val ids = nodes.select(col("id")).distinct()
    // (id, is_seed), materialized in the job that counts the seeds
    val (base, nSeeds) = checkpointPredCounted(seeds.fold(ids.withColumn("is_seed", lit(true)))(
      s => ids.join(s.select(col("id"), lit(true).as("hit")).distinct(), Seq("id"), "left_outer")
        .select(col("id"), col("hit").isNotNull.as("is_seed"))), col("is_seed"))
    if (seeds.isDefined)
      require(nSeeds > 0, "personalized PageRank needs at least one seed")
    val nS = nSeeds.toDouble
    def r12(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    gatherRounds(new GatherProgram[Double](Encoders.scalaDouble) {
      val symmetric = false
      override val outDegree = true
      val init = when(col("is_seed"), lit(1.0 / nS)).otherwise(lit(0.0))
      override val message = col("x") / col("odeg")
      def combine(msgs: DataFrame): DataFrame =
        msgs.groupBy(col("id")).agg(sum(col("m")).as("agg"))
      val update = round(
        when(col("is_seed"),
          lit(reset / nS) + lit(damping) * (coalesce(col("agg"), lit(0.0)) + col("g") / nS))
          .otherwise(lit(damping) * coalesce(col("agg"), lit(0.0))), 12)
      override val global = coalesce(sum(when(col("odeg").isNull, col("x"))), lit(0.0))
      def local(rows: Array[Row], odeg: Array[Long]): GatherLocal[Double] = new GatherLocal[Double] {
        private val seed = rows.map(_.getAs[Boolean]("is_seed"))
        def init(i: Int): Double = if (seed(i)) 1.0 / nS else 0.0
        override def message(i: Int, x: Double): Double = x / odeg(i)
        def fold(own: Double, m: Array[Double], snd: Array[Int], lo: Int, hi: Int): Double = {
          var s = 0.0; var j = lo
          while (j < hi) { s += m(snd(j)); j += 1 }
          s
        }
        override def update(i: Int, agg: Double, g: Double): Double =
          r12(if (seed(i)) reset / nS + damping * (agg + g / nS) else damping * agg)
        override def global(i: Int, x: Double): Double = if (odeg(i) == 0L) x else 0.0
      }
    }, base, edges, iters).select(col("id"), col("x").as("rank"))
  }

  /** Multi-seed hop-count BFS: the sparse reached set (seed, id, d) for
    * every node within `maxRounds` hops of a seed, over PRE-SYMMETRIZED
    * (src, dst) edges. Unweighted BFS means first reach IS the hop
    * distance, so the per-round delta is one anti-join against the
    * state; only last round's new pairs join the edge list
    * (frontier-delta), seeds ride as a key column so K sources cost ONE
    * loop, and iterates are checkpointed + released like every loop
    * here. Kernel for [[graft.graph.Clouds.eccentricity]] /
    * [[graft.graph.Clouds.harmonic]] and the ScaleBench harness.
    *
    * MEMORY CONTRACT (maxRounds exit): the returned frame is the final
    * round's LAZY union checkpoint, and the previous iterate's blocks
    * feed it — so until the CALLER's first action materializes the
    * result, TWO reached-set iterates stay resident (the converged
    * exit holds one, already materialized). Callers chaining kernels
    * back-to-back, or looping over seed batches, should run their
    * first action on (or checkpoint) the result before building the
    * next kernel's state. */
  def hopDistances(seeds: DataFrame, edges: DataFrame,
                   maxRounds: Int): DataFrame = {
    // the edge materialization's internal count doubles as the image
    // gate probe (cells = directed edge rows)
    val (e, cells) = checkpointCounted(edges.select(col("src"), col("dst")))
    if (cells > Gates.cells) bfsRounds(seeds, e, maxRounds, sigma = false)
    else {
      val out = hopDistancesImg(seeds, e, maxRounds)
      releaseIterate(e)
      out
    }
  }

  /** The shortest-path COUNTS variant of [[hopDistances]]' distributed
    * loop over an edge frame the CALLER already materialized
    * (checkpoint or cheap projection of one): (seed, id, d, sigma) where
    * sigma = number of distinct shortest paths seed→id — the forward
    * pass of Brandes' betweenness algorithm (Brandes 2001). The
    * betweenness kernel shares ONE edge checkpoint between this forward
    * pass and its backward layers; a second internal checkpoint would
    * double the largest object in the job (measured: 2 × ~170M-row
    * copies OOM an 8 GiB executor JVM at the 150k-node ScaleBench point
    * where one copy fits). Kernel for [[graft.graph.Clouds.betweenness]]. */
  private[graft] def hopDistancesSigmaOn(seeds: DataFrame, e: DataFrame,
                                         maxRounds: Int): DataFrame =
    bfsRounds(seeds, e, maxRounds, sigma = true)

  /** The frontier-delta BFS loop behind [[hopDistances]] and
    * [[hopDistancesSigmaOn]]. With `sigma`, each row also carries its
    * shortest-path count. Correctness rides on the BFS layer invariant:
    * every shortest-path predecessor of a node first reached in round r
    * sits at distance r−1, i.e. exactly in the previous round's
    * newly-reached frontier — so `sum(sigma)` over the frontier-join
    * rows IS the path count, in the same single keyed aggregate as the
    * distance. Sigma is DECIMAL(38,0): path counts multiply along dense
    * layers and can pass 2^63 long before the row counts are a problem;
    * the decimal sum is exact (and overflow → null, never a silent
    * wrap). */
  private def bfsRounds(seeds: DataFrame, e: DataFrame, maxRounds: Int,
                        sigma: Boolean): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    def withSigma(base: Seq[Column], s: Column): Seq[Column] =
      if (sigma) base :+ s.as("sigma") else base
    var dist = seeds.select(withSigma(Seq(col("id").as("seed"), col("id"),
        lit(0L).as("d")), lit(1).cast(dec0)): _*)
      .localCheckpoint(true)
    // ONE action per round (the SSSP pattern): `newly`'s count job also
    // materializes the LAZY union checkpoint of the previous round's
    // iterate (the anti-join reads it), so the eager per-round union
    // job is gone. An iterate may only be released once the next union
    // that reads its blocks has materialized — i.e. two rounds later —
    // so the supersede window is two iterates deep, not one. On the
    // maxRounds exit the last `older` stays resident on purpose: its
    // blocks feed the returned lazy union ([[hopDistances]]' memory
    // contract).
    var older: DataFrame = null
    var frontier = dist
    var r = 0
    var live = true
    while (r < maxRounds && live) {
      val cand = frontier.join(e, frontier("id") === e("src"))
        .select(withSigma(Seq(col("seed"), col("dst").as("id"), (col("d") + 1).as("d")),
          col("sigma")): _*)
        .groupBy(col("seed"), col("id"))
        .agg(min(col("d")).as("d"), withSigma(Nil, sum(col("sigma")).cast(dec0)): _*)
      // one-job count + materialization ([[checkpointCounted]] — this
      // loop pioneered the fused idiom; the helper upgrades its count
      // from an AQE-staged aggregate to a single RDD job)
      val (newly, nNew) = checkpointCounted(cand
        .join(dist.select(col("seed"), col("id")), Seq("seed", "id"), "left_anti"))
      live = nNew > 0 // the count job materialized newly AND the lazy iterate
      // `dist` is materialized now; the iterate two rounds back can no
      // longer be read by anything live
      if (older ne null) { releaseIterate(older); older = null }
      if (live) {
        older = dist
        dist = dist.unionByName(newly).localCheckpoint(false)
        frontier = newly
      }
      r += 1
    }
    dist
  }

  /** Weighted single-source (or multi-source) shortest paths from a seed
    * id set over directed edges with a `weight` column — delta-stepping
    * Bellman-Ford: only the FRONTIER (nodes whose distance improved last
    * round) joins the edge list, so per-round cost tracks the wavefront,
    * not O(E); that is also what makes convergence cheap at scale. One
    * checkpoint action per round; the emptiness probe reads the
    * checkpointed result.
    *
    * The relaxation BUDGET (maxIter × relaxPerRound, default
    * [[RelaxBudget]]) is part of the operator's contract: the result is
    * exact shortest paths over at most that many hops. An oracle that
    * unrolls exactly [[RelaxBudget]] relaxations therefore matches
    * bit-for-bit whether or not the graph converged inside the budget —
    * budget alignment, not convergence, is what makes parity
    * unconditional. */
  def shortestPaths(nodes: DataFrame, edges: DataFrame, seedIds: DataFrame,
                    maxIter: Int = MaxRounds, relaxPerRound: Int = RelaxPerRound): DataFrame = {
    val spark = nodes.sparkSession
    // materialized once (so the possibly-expensive upstream never re-runs),
    // then shuffled onto the relaxation join key at the loop width —
    // every relaxation then moves only the frontier, never the edge table
    val e0 = edges.select(col("src"), col("dst"), col("weight"))
      .localCheckpoint(true)
    val nE = e0.count()
    // BOUNDED-COLLECT SHORTCUT (the [[unionFindLabels]] class of gate):
    // below the gate the whole relaxation budget runs as one driver
    // loop of SYNCHRONOUS full relaxations over the collected edges —
    // zero per-round scheduler jobs. Value identity is unconditional:
    // each distributed relaxation computes dist' = min(dist, min over
    // FRONTIER u of dist(u) + w) in IEEE doubles; restricting to the
    // frontier is itself a pure optimization (a non-improved u's
    // contribution dist(u) + w was already folded into its targets the
    // pass after u last improved, and dist only decreases), so the
    // full synchronous relaxation replays the identical dist sequence
    // pass for pass, and the early exit on a no-improvement pass equals
    // the distributed round-boundary exit (all later passes are
    // no-ops). AlgorithmsSpec pins local == loop on a random weighted
    // digraph. Above the gate the frontier loop stands — the wavefront
    // shape is what scales on a cluster.
    if (nE <= Gates.edges) {
      import spark.implicits._
      val seedArr = seedIds.select(col("id").cast("long")).as[Long].collect()
      // dictionary over endpoints ∪ seeds (a seed off the edge list
      // still emits its 0.0 row)
      val (g, ws) = LocalGraph.collectDoubleW(e0, "src", "dst", "weight", seedArr)
      releaseIterate(e0)
      val n = g.n
      val ids = g.ids
      // CSR over DIRECTED edges with weights
      val (img, slotEdge) = g.csr(both = false)
      val offs = img.offs; val flat = img.flat
      val fw = slotEdge.map(ws(_))
      val inf = Double.PositiveInfinity
      var cur = Array.fill(n)(inf)
      var i = 0
      while (i < seedArr.length) { cur(g.index(seedArr(i))) = 0.0; i += 1 }
      var nxt = new Array[Double](n)
      var pass = 0
      var live = true
      val budget = maxIter * relaxPerRound
      while (pass < budget && live) {
        System.arraycopy(cur, 0, nxt, 0, n)
        var improved = false
        var u = 0
        while (u < n) {
          val du = cur(u)
          if (du != inf) {
            var j = offs(u)
            while (j < offs(u + 1)) {
              val c = du + fw(j)
              if (c < nxt(flat(j))) { nxt(flat(j)) = c; improved = true }
              j += 1
            }
          }
          u += 1
        }
        live = improved
        val t = cur; cur = nxt; nxt = t
        pass += 1
      }
      val reached = Array.newBuilder[(Long, Double)]
      i = 0
      while (i < n) { if (cur(i) != inf) reached += ((ids(i), cur(i))); i += 1 }
      return LocalGraph.attach(nodes.select(col("id")), LocalGraph.relation(
        spark, reached.result().toIndexedSeq, "id", "dist"))(col("id"), col("dist"))
    }
    val width = loopWidth(spark, nE)
    val loopSpark = loopSession(spark, width)
    val e = rebase(loopSpark, e0)
      .repartition(width, col("src")).localCheckpoint(true)
    releaseIterate(e0) // e is the loop's copy; the staging blocks are dead
    var dist = rebase(loopSpark,
      nodes.select(col("id"))
        .join(seedIds.select(col("id"), lit(0.0).as("dist0")), Seq("id"), "left_outer")
        .select(col("id"), col("dist0").as("dist")) // null = unreachable (yet)
        .localCheckpoint(true))
    val initDist = dist // round 1 has no prevChk; released at exit
    var frontier = dist.filter(col("dist").isNotNull)
    var roundChk: DataFrame = null // the live iterate's checkpoint
    var iter = 0
    // one-time seed probe (the initial dist is already checkpointed);
    // inside the loop convergence is learned for FREE from each round's
    // materialization action, never from a separate probe job
    var live = frontier.limit(1).count() > 0
    while (iter < maxIter && live) {
      // `relaxPerRound` relaxations share ONE checkpoint action: extra
      // Bellman-Ford relaxations are monotone (never wrong, at worst
      // no-ops), and on graphs with deep shortest-path trees the round
      // count — i.e. the number of Spark actions — halves. Only the
      // nodes improved by the FINAL relaxation form the next frontier:
      // earlier improvements have already been propagated within the
      // round.
      val prevChk = roundChk
      var d = dist
      var f = frontier
      var lastJoined: DataFrame = null
      for (_ <- 1 to relaxPerRound) {
        val cand = f.join(e, f("id") === e("src"))
          .select(col("dst").as("id"), (col("dist") + col("weight")).as("cand"))
          .groupBy(col("id")).agg(min(col("cand")).as("cand"))
        val joined = d.join(cand, Seq("id"), "left_outer")
          .select(col("id"), col("dist"), col("cand"),
            (col("cand").isNotNull &&
              (col("dist").isNull || col("cand") < col("dist"))).as("improved"))
        d = joined.select(col("id"),
          when(col("improved"), col("cand")).otherwise(col("dist")).as("dist"))
        f = joined.filter(col("improved"))
          .select(col("id"), col("cand").as("dist"))
        lastJoined = joined
      }
      // LAZY checkpoint + improved-count: the count job is what
      // materializes the checkpoint blocks, so the round's relaxations
      // AND its convergence answer cost ONE action instead of the former
      // two (eager checkpoint, then a limit-1 frontier probe) — at
      // sf0.1 the loop is round-tax-dominated, so this halves the tax
      val (chk, improvedCnt) =
        checkpointPredCounted(lastJoined, col("improved"))
      releaseIterate(prevChk) // this round read it; now superseded
      roundChk = chk
      dist = chk.select(col("id"),
        when(col("improved"), col("cand")).otherwise(col("dist")).as("dist"))
      frontier = chk.filter(col("improved"))
        .select(col("id"), col("cand").as("dist"))
      live = improvedCnt > 0
      iter += 1
    }
    // hand the result back rooted in the CALLER's session, so whatever
    // the caller appends (sorts, joins) plans under the caller's conf,
    // not the loop's pinned width
    val result = dist.select(col("id"), col("dist")).localCheckpoint(true)
    releaseIterate(roundChk) // the result is its own copy; the iterate is dead
    // round 1's prevChk was null, so the seed-dist checkpoint was never
    // released; it sits behind a rebase, hence the lineage walk
    releaseLineage(initDist)
    releaseIterate(e) // the loop's repartitioned edge copy is dead too
    rebase(spark, result)
  }
}
