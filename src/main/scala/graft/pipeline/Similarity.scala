package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Layout

/** Embedding similarity operators over the `embeddings` table
  * (vec_id, embedding FLOAT[64], label).
  *
  * Numeric contract with the DuckDB oracle: every cosine is computed as
  * dot/(sqrt(na)*sqrt(nb)) over the float values promoted to double,
  * summed in element order — bit-identical to DuckDB's
  * `list_cosine_similarity(CAST(v AS DOUBLE[]), ...)` (verified
  * empirically to 0 ulp), so `round(cos, 4)` hash-matches. Thresholds
  * and ranks are applied to the ROUNDED value so boundary decisions are
  * identical in both engines.
  *
  * Scale story: the exact operators (`d_embedding_neardup`,
  * `s_cosine_topk`) are the O(n·m) brute-force baselines — correct at
  * any scale but quadratic; [[lshAnn]] is the 100 TB path: bucketed
  * random-hyperplane LSH where the only shuffle is on the (table,
  * bucket) key and no all-pairs product ever materializes.
  */
object Similarity {

  import graft.functions.ArrayDotProduct.arrayDot
  import graft.functions.SignLshBuckets.signLshBuckets

  /** Rank the scored candidates and keep the top k per query — the
    * shared native-heap-or-window idiom, see
    * [[graft.plans.TopKPerGroup.rankTopK]]. The (cos_sim desc, vec_id)
    * order is total, so both paths return identical rows. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerGroup.rankTopK(scored, Seq("query_id"),
        Seq("cos_sim" -> true, "vec_id" -> false), k)
      .select(col("query_id"), col("vec_id").as("neighbor"), col("cos_sim"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))

  /** Embeddings with doubles + precomputed L2 norm (one pass per vector,
    * reused by every pair — at scale this is a cheap narrow map). The
    * dot products run through [[graft.functions.ArrayDotProduct]], a
    * native codegen'd Catalyst expression — interpreted higher-order
    * array lambdas cost ~10 µs per 64-dim pair and dominated every
    * pairwise-scoring join before. */
  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(arrayDot(col("v"), col("v"))))

  /** HALF_UP 4-dp rounding — the exact semantics of SQL `round(x, 4)`
    * in both Spark and DuckDB, for kernel-side parity. */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Exact embedding near-duplicate pairs with cosine ≥ `minCos`
    * (on the 4-dp rounded value). `d_embedding_neardup`.
    *
    * Exact all-pairs fundamentally ships one side everywhere; Spark's
    * own BroadcastNestedLoopJoin does exactly that, but evaluates the
    * scoring projection interpreted per pair (array expressions are not
    * whole-stage-codegen'd inside BNLJ) — measured ~10-20 µs/pair. This
    * operator keeps the identical data movement (collect → executor
    * broadcast, the same build Spark's broadcast join performs) and runs
    * the O(n²) scoring as a tight JVM loop over primitive arrays. The
    * math is the identical sequential double fold, so the DuckDB
    * hash-match is unaffected. This is the sf-bounded exactness
    * baseline; [[lshAnn]]'s bucketed plan is the 100 TB path. */
  /** Hard ceiling on [[embeddingNearDup]]'s driver-side build: 500k
    * 64-dim vectors ≈ 350 MB of driver heap. The exact baseline is
    * MEANT to be sf-bounded; past this it must fail loudly with a
    * pointer at the scale paths instead of OOMing the driver mid-join. */
  val MaxExactVectors = 500000L

  def embeddingNearDup(spark: SparkSession, dir: String, minCos: Double = 0.4,
                       maxVectors: Long = MaxExactVectors,
                       nKnown: Long = -1L): DataFrame = {
    import spark.implicits._
    val v = vectors(spark, dir).select(col("vec_id"), col("v"), col("norm"))
    // nKnown ≥ 0: the caller already counted the table ([[epsPairs]]'s
    // branch decision) — don't re-scan it just to re-check the guard
    val nVec = if (nKnown >= 0L) nKnown else v.count()
    require(nVec <= maxVectors,
      s"embeddingNearDup is the exact sf-bounded baseline and materializes " +
        s"all $nVec vectors on the driver (limit $maxVectors). At this scale " +
        s"use the bucketed paths instead: s_lsh_ann (lshAnn) or s_ivf_ann (ivfAnn).")
    val build: Array[(Long, Array[Double], Double)] =
      v.as[(Long, Seq[Double], Double)].collect()
        .map { case (id, vec, n) => (id, vec.toArray, n) }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(build)
    val thr = minCos
    v.as[(Long, Seq[Double], Double)]
      .mapPartitions { rows =>
        val others = bc.value
        rows.flatMap { case (a, vecSeq, na) =>
          val va = vecSeq.toArray
          others.iterator.filter(_._1 > a).flatMap { case (b, vb, nb) =>
            var d = 0.0
            var i = 0
            while (i < va.length) { d += va(i) * vb(i); i += 1 }
            val c = round4(d / (na * nb))
            if (c >= thr) Some((a, b, c)) else None
          }
        }
      }
      .toDF("a", "b", "cos_sim")
      .orderBy(col("a"), col("b"))
  }

  // ---- gated eps-pair layer (dbscan / linkage census) -----------------

  /** Eps-index shape — dedicated sign-LSH planes for the LOW-threshold
    * pair generation the density operators need, deliberately SHALLOWER
    * and WIDER than the top-k ANN index ([[BitsPerTable]]×[[NumTables]]
    * = 8×6): per-table collision probability of a cos-τ pair is
    * (1 − θ/π)^bits with θ = acos τ, and at τ = 0.3 that is 0.597^bits —
    * the 8-bit ANN tables collapse to a measured 0.13 eps-pair recall,
    * while 4 bits × 16 tables lands at 0.73 (τ=0.3) / 0.80 (τ=0.4) on
    * the driver corpus. The trade is candidate volume: 4-bit tables
    * have 16 buckets each, so the per-bucket membership cap
    * ([[EpsBucketCap]]) is what keeps the self-join bounded under any
    * skew. At 100 TB this is the knob pair a deployment re-tunes per
    * corpus: bits up as |bucket| grows (≈ log₂(n / targetBucket)),
    * tables up to recover recall (L ≈ ln(1/missRate) / p^bits) — the
    * standard (ρ = ln p₁ / ln p₂) sign-LSH budget; a low-τ eps-graph at
    * corpus scale is APPROXIMATE by nature, and the measured-recall
    * contract (the `s_range_search` / `d_lsh_recall` family convention)
    * is the honest one. */
  private val EpsBitsPerTable = 4
  private val EpsNumTables = 16

  /** Disjoint LCG stream offset for the eps-index hyperplanes (the
    * [[MipsSeedBase]] convention — shared planes would correlate the
    * indexes and void the independent-trials recall math). */
  private val EpsSeedBase = 200000L

  /** Mean bucket occupancy the eps-index DEPTH targets ([[epsBitsFor]])
    * — the knob that keeps the capped self-join's candidate volume
    * LINEAR in n: per table ≈ n·target/2 pairs, ×[[EpsNumTables]]
    * ≈ 512·n candidates total at any corpus size. */
  val EpsTargetBucket = 64

  /** Per-(table, bucket) membership cap for the eps-pair self-join —
    * the [[KnnBucketCap]] idiom at the wider-bucket shape: a collapsed
    * bucket degrades recall gracefully instead of going quadratic
    * (≤ C(cap, 2) pairs per key). With depth targeting a mean bucket
    * of [[EpsTargetBucket]], the 4× cap only clips skew tails
    * (near-dup pile-ups), never the typical bucket. */
  val EpsBucketCap = 256

  /** Occupancy-targeted table depth: bits ≈ log₂(n /
    * [[EpsTargetBucket]]), floored at [[EpsBitsPerTable]]. Fixed-depth
    * tables die at scale in one of two ways — too few bits and every
    * bucket exceeds the cap (the hash-sample then discards almost all
    * members, recall → 0 even for cos-0.99 twins); too many and
    * low-cos recall vanishes at ANY size. Growing depth with n keeps
    * buckets at the target size, which preserves recall where the
    * density mass lives (a cos-0.98 pair collides per-table at
    * 0.98^bits ≈ 0.78 even at 12 bits, ≈ 1.0 over 16 tables) while
    * boundary-cos recall decays on the published sign-LSH budget — the
    * approximate-DBSCAN trade, documented and spec-measured. */
  private[graft] def epsBitsFor(n: Long): Int =
    math.max(EpsBitsPerTable,
      math.ceil(math.log(math.max(1L, n / EpsTargetBucket).toDouble) /
        math.log(2.0)).toInt)

  /** [[hpComponent]]'s LCG on the eps-index stream; the stride carries
    * the table depth so every (bits, t, j, d) is deterministic. */
  private def epsHpComponent(bits: Int, t: Int, j: Int, d: Int): Double = {
    val i = EpsSeedBase + ((t.toLong * bits + j) * Dim + d) + 1L
    ((1103515245L * i + 12345L) % HpMod).toDouble / HpMod.toDouble - 0.5
  }

  private[graft] def epsPlanes(bits: Int): IndexedSeq[IndexedSeq[Array[Double]]] =
    IndexedSeq.tabulate(EpsNumTables)(t => IndexedSeq.tabulate(bits)(j =>
      Array.tabulate(Dim)(d => epsHpComponent(bits, t, j, d))))

  /** Per-vector eps-index buckets — [[buckets]] on the eps planes. */
  private[graft] def epsBuckets(v: DataFrame, bits: Int): DataFrame =
    v.select(col("vec_id"),
      posexplode(signLshBuckets(col("v"), epsPlanes(bits)))
        .as(Seq("table", "bucket")))

  /** LSH-bucketed eps-pair generation — the 100 TB path of the
    * [[epsPairs]] gate: candidates meet only in a shared eps-index
    * (table, bucket) key (bucket-local shuffle, membership hash-capped
    * at `cap` via the fleet [[cappedBuckets]] idiom — NEVER all-pairs),
    * then every candidate is EXACTLY rescored and thresholded, so
    * precision is 1.0 by construction (output ⊆ the exact pair set,
    * with identical rounded cosines) and recall is the measured,
    * spec-pinned quantity of the index shape above. Output contract
    * matches [[embeddingNearDup]]: canonical (a < b, cos_sim). */
  private[graft] def epsPairsBucketed(spark: SparkSession, dir: String,
      minCos: Double, cap: Int = EpsBucketCap,
      bits: Int = EpsBitsPerTable, nKnown: Long = -1L): DataFrame = {
    val v = vectors(spark, dir).localCheckpoint(true)
    val b = epsBuckets(v, bits).localCheckpoint(true)
    val out = rescorePairs(v, knnCandidates(b, cap), nKnown)
      .filter(col("cos_sim") >= minCos)
      .localCheckpoint(true)
    graft.graph.Algorithms.releaseIterate(v)
    graft.graph.Algorithms.releaseIterate(b)
    out
  }

  /** Exact cosine rescore of canonical (a, b) candidate pairs — the
    * shared tail of every bucketed generator: attach each endpoint's
    * (vector, norm), one codegen'd dot per pair. The CANDIDATE side is
    * the big one (≈ tables·cap/2·n rows vs n vector rows of ~0.5 KB),
    * so at or below [[MaxExactVectors]] rows the vector side is
    * explicitly BROADCAST and the candidate set never shuffles —
    * measured ×100 §4.14 (200k vectors, 96.8M candidates): the two
    * shuffle-hash joins moved the pair set twice (the second carrying
    * 512 B vector payloads) for 210 s of the forced-dbscan wall;
    * broadcast-attached the identical rescore is ~35 s. Above the
    * bound the vector table no longer fits an executor and the
    * shuffle-hash join is the correct cluster shape (candidates and
    * vectors both hash-partitioned on the id) — the branch a 100 TB
    * corpus takes, decided by one O(partitions) count of the
    * already-checkpointed vector table. Same rows either way.
    *
    * `nKnown` ≥ 0: the caller already counted the vector table — the
    * gate decision reuses it and this helper runs ZERO eager jobs at
    * plan-construction time (the [[embeddingNearDup]] nKnown contract,
    * one level down — r17 verdict task 1). `nKnown` < 0 falls back to
    * counting `v` here, which is only cheap because every fleet caller
    * passes a localCheckpoint'd frame; a raw-lineage caller would
    * recompute the whole vector pipeline just to pick a join strategy,
    * so new callers should count once after their checkpoint and
    * thread the value through. */
  private[graft] def rescorePairs(v: DataFrame, cand: DataFrame,
      nKnown: Long = -1L): DataFrame = {
    val nVec = if (nKnown >= 0L) nKnown else v.count()
    val side = if (nVec <= MaxExactVectors) broadcast(v) else v
    cand
      .join(side.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na")), Seq("a"))
      .join(side.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(arrayDot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cos_sim"))
  }

  /** The gated eps-pair layer feeding [[dbscan]] and [[linkageCensus]]
    * — the CSR-image-gate idiom (squareCount / neighborJaccard) applied
    * to the pair generator: at or below `maxExact` vectors the exact
    * sf-bounded baseline ([[embeddingNearDup]]) supplies ALL pairs ≥
    * `minCos`; above it the plan DEGRADES GRACEFULLY to the
    * LSH-bucketed generator ([[epsPairsBucketed]]) instead of refusing
    * to run — approximate DBSCAN / single-linkage, the published
    * corpus-scale practice, with precision 1.0 and spec-measured
    * recall. One metadata-cheap count decides the branch. */
  private[graft] def epsPairs(spark: SparkSession, dir: String, minCos: Double,
      maxExact: Long = MaxExactVectors): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    if (n <= maxExact) embeddingNearDup(spark, dir, minCos, nKnown = n)
    else epsPairsBucketed(spark, dir, minCos, bits = epsBitsFor(n), nKnown = n)
  }

  /** DBSCAN over the embedding set, with the eps-neighbourhood defined
    * on rounded cosine similarity (cos ≥ `epsCos`) — the density
    * clustering a curation pipeline runs where k-means' fixed k and
    * spherical bias are wrong (it also yields the NOISE set, the
    * outlier embeddings worth auditing). Semantics are the textbook
    * ones made deterministic: core = |N_eps(p)| ≥ minPts (self
    * included); cluster label = MIN core id of the core's connected
    * component (via the shared [[graft.graph.Algorithms
    * .connectedComponents]] kernel over core–core eps-edges); border
    * points join the SMALLEST cluster label among their core
    * neighbours (textbook DBSCAN leaves border assignment
    * scan-order-dependent — min is the order-free choice the oracle
    * can replay); everything else is noise (cluster −1).
    *
    * Scale shape: the eps-graph comes from the [[epsPairs]] gate —
    * exact below `maxExact` vectors, LSH-bucketed + exact-rescore
    * above it (approximate DBSCAN with precision-1.0 edges and
    * spec-measured recall) — and everything downstream of `pairs` is
    * distributed at any scale: one degree count, two semi-joins, the
    * CC kernel, one border min-agg. The pair list is checkpointed once
    * and feeds all three consumers. `s_dbscan`. */
  val DbscanEpsCos = 0.3
  val DbscanMinPts = 4

  def dbscan(spark: SparkSession, dir: String, epsCos: Double = DbscanEpsCos,
             minPts: Int = DbscanMinPts,
             maxExact: Long = MaxExactVectors): DataFrame = {
    val eps = epsPairs(spark, dir, epsCos, maxExact)
    val pairs = eps
      .select(col("a"), col("b"))
      .localCheckpoint(true) // three consumers: degrees, core edges, borders
    graft.graph.Algorithms.releaseIterate(eps) // bucketed-path inner checkpoint
    val sym = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("n_nbrs"))
    val cores = deg.filter(col("n_nbrs") + 1 >= minPts).select(col("id"))
    val coreEdges = pairs
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(cores.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
    val comp = graft.graph.Algorithms.connectedComponents(
      cores, coreEdges.select(col("a").as("src"), col("b").as("dst")))
    val borders = sym
      .join(comp.select(col("id").as("b"), col("comp")), Seq("b"))
      .join(comp.select(col("id").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a")).agg(min(col("comp")).as("border_cluster"))
    vectors(spark, dir).select(col("vec_id"))
      .join(comp.select(col("id").as("vec_id"), col("comp").as("core_cluster")),
        Seq("vec_id"), "left_outer")
      .join(borders.select(col("a").as("vec_id"), col("border_cluster")),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        when(col("core_cluster").isNotNull, "core")
          .when(col("border_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("core_cluster"), col("border_cluster"), lit(-1L)).as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** Bench-only PER-STAGE instrumentation of the FORCED-bucketed
    * [[dbscan]] (r16 verdict task 2: attribute the last-decade §4.14
    * growth between index build / candidate generation / exact rescore
    * / CC over the eps-graph / label assembly). Replays [[dbscan]]'s
    * exact plan but materializes each stage eagerly and reports
    * (stage, wall sec, output rows); `candidates` is the PRE-rescore
    * candidate volume — the ≈512·n linearity claim's direct measure.
    * Stage walls sum to an upper bound of the fused plan (extra
    * checkpoint materializations); driven by [[graft.ScaleBenchC]],
    * never registered. */
  private[graft] def dbscanStagedTimings(spark: SparkSession, dir: String,
      epsCos: Double = DbscanEpsCos, minPts: Int = DbscanMinPts)
      : Seq[(String, Double, Long)] = {
    import graft.graph.Algorithms.releaseIterate
    val buf = scala.collection.mutable.ListBuffer.empty[(String, Double, Long)]
    def timed(name: String)(df: => DataFrame): DataFrame = {
      val s = System.nanoTime()
      val out = df.localCheckpoint(true)
      val n = out.count()
      buf += ((name, (System.nanoTime() - s) / 1e9, n))
      out
    }
    val n = Tables.embeddings(spark, dir).count()
    val bits = epsBitsFor(n)
    val v = timed("vectors")(vectors(spark, dir))
    val b = timed("eps_index")(epsBuckets(v, bits))
    val cand = timed("candidates")(knnCandidates(b, EpsBucketCap))
    val pairs = timed("rescore")(
      rescorePairs(v, cand, n)
        .filter(col("cos_sim") >= epsCos)
        .select(col("a"), col("b")))
    val sym = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("n_nbrs"))
    val cores = timed("core_select")(
      deg.filter(col("n_nbrs") + 1 >= minPts).select(col("id")))
    val coreEdges = pairs
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(cores.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
    val comp = timed("cc_core_graph")(graft.graph.Algorithms.connectedComponents(
      cores, coreEdges.select(col("a").as("src"), col("b").as("dst"))))
    val out = timed("label_assembly") {
      val borders = sym
        .join(comp.select(col("id").as("b"), col("comp")), Seq("b"))
        .join(comp.select(col("id").as("a")), Seq("a"), "left_anti")
        .groupBy(col("a")).agg(min(col("comp")).as("border_cluster"))
      v.select(col("vec_id"))
        .join(comp.select(col("id").as("vec_id"), col("comp").as("core_cluster")),
          Seq("vec_id"), "left_outer")
        .join(borders.select(col("a").as("vec_id"), col("border_cluster")),
          Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          when(col("core_cluster").isNotNull, "core")
            .when(col("border_cluster").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("core_cluster"), col("border_cluster"), lit(-1L))
            .as("cluster"))
    }
    Seq(v, b, cand, pairs, cores, comp, out).foreach(releaseIterate)
    buf.toSeq
  }

  /** Single-linkage hierarchical-clustering CENSUS over the embedding
    * eps-graph at a descending cosine-cut ladder — the dendrogram
    * summary a curation run reads before picking a near-dup threshold
    * (how fast do clusters merge as the cut loosens; when does a giant
    * component appear). A single-linkage cut at cos ≥ t IS the
    * connected components of the t-thresholded similarity graph, so
    * the ladder composes the [[graft.graph.Clouds.thresholdSweepOn]]
    * idiom one block over ([[graft.graph.Algorithms.nestedCut]]): the
    * STRICTEST cut runs the CC kernel on its (smallest) edge set, and
    * each looser cut contracts only its [t, prev) band edges on the
    * previous cut's supernode set — never the full graph again.
    * Census columns are label-invariant integers, so the oracle
    * replays each cut with an independent recursive CC. Per-cut label
    * checkpoints are released once the unioned census materializes
    * (the r14 sweep-release lesson). The pair layer is the
    * [[epsPairs]] gate — exact below `maxExact` vectors, LSH-bucketed
    * + exact-rescore above it (each cut's census then summarizes the
    * recalled eps-graph; precision of every edge is 1.0); everything
    * downstream is already incremental. `s_linkage_census`. */
  val LinkageCuts: Seq[Double] = Seq(0.40, 0.35, 0.30) // strict → loose

  def linkageCensus(spark: SparkSession, dir: String,
                    maxExact: Long = MaxExactVectors): DataFrame = {
    import graft.graph.Algorithms
    val eps = epsPairs(spark, dir, LinkageCuts.min, maxExact)
    val pairs = eps
      .select(col("a"), col("b"), col("cos_sim"))
      .localCheckpoint(true) // one band filter per cut below
    Algorithms.releaseIterate(eps) // bucketed-path inner checkpoint
    val nodes = vectors(spark, dir).select(col("vec_id").as("id"))
    var prev: DataFrame = null
    var prevCut = 2.0 // above any cosine
    val cutCks = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val perCut = LinkageCuts.map { cut =>
      val cc = Algorithms.nestedCut(nodes, prev,
        pairs.filter(col("cos_sim") >= cut && col("cos_sim") < prevCut)
          .select(col("a").as("src"), col("b").as("dst")))
      prev = Algorithms.freshStats(cc).localCheckpoint(true)
      cutCks += prev
      prevCut = cut
      val sz = prev.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      sz.agg(
        sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("n_clusters"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
        max(col("sz")).as("largest_size"),
        sum(when(col("sz") >= 2, col("sz")).otherwise(0L)).as("n_clustered"))
        .select(lit(cut).as("min_cos"), col("n_clusters"), col("n_singletons"),
          col("largest_size"), col("n_clustered"))
    }
    val out = perCut.reduce(_ unionByName _)
      .orderBy(col("min_cos"))
      .localCheckpoint(true) // materialize BEFORE releasing the cut labels
    cutCks.foreach(Algorithms.releaseIterate)
    Algorithms.releaseIterate(pairs)
    out
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest other vectors. The query side is a fixed small set →
    * broadcast is size-safe by construction; the candidate side streams.
    * `s_cosine_topk`. */
  def cosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame =
    cosineTopKOnV(vectors(spark, dir), nQueries, k)

  /** [[cosineTopK]] over a caller-supplied vectors frame — the
    * shared-input seam of the ANN-ladder audits (see [[lazyLadder]]):
    * the ladder materializes ONE vectors checkpoint and feeds all five
    * families instead of each family re-scanning + re-materializing
    * the table. Values are unchanged (same rows, same math). */
  private[graft] def cosineTopKOnV(v: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(arrayDot(col("qv"), col("v")) / (col("qn") * col("norm")), 4))
    // rank on the rounded value (cross-engine deterministic), vec_id tiebreak
    rankTopK(scored, k)
  }

  // ---- random-hyperplane LSH ANN (the scale path) --------------------

  val Dim = 64          // embedding dimensionality of the corpus
  val NumTables = 6     // L independent hash tables (recall knob)
  val BitsPerTable = 8  // k sign bits per table (precision knob)

  /** LCG modulus for the hyperplane formula (2^31 − 1). */
  private val HpMod = 2147483647L

  /** Deterministic pseudo-random hyperplane component for (table, bit,
    * dim): an LCG step mapped to [−0.5, 0.5). Uniform-cube directions
    * instead of Gaussian — for SIGN hashing only the direction matters
    * and the quality difference is negligible, while the closed form is
    * two integer ops + one division that ANY SQL engine replays exactly
    * (the DuckDB oracle recomputes these very doubles — no 3072-literal
    * blob, no RNG-implementation dependency). */
  private def hpComponent(t: Int, j: Int, d: Int): Double = {
    val i = ((t.toLong * BitsPerTable + j) * Dim + d) + 1L
    ((1103515245L * i + 12345L) % HpMod).toDouble / HpMod.toDouble - 0.5
  }

  private val hyperplanes: IndexedSeq[IndexedSeq[Array[Double]]] =
    IndexedSeq.tabulate(NumTables)(t => IndexedSeq.tabulate(BitsPerTable)(j =>
      Array.tabulate(Dim)(d => hpComponent(t, j, d))))

  /** Per-vector LSH buckets: (vec_id, table, bucket) where bucket packs
    * the k sign bits of the hyperplane projections. Narrow map — no
    * shuffle; the bucket key is what the candidate join shuffles on.
    * Deliberately does NOT carry the vectors: the bucket index is L
    * rows per vector, and payloads are re-attached only after the
    * candidate pairs are deduped. */
  private def buckets(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      posexplode(signLshBuckets(col("v"), hyperplanes))
        .as(Seq("table", "bucket")))

  /** LSH-bucketed approximate top-k: candidates are vectors sharing ≥1
    * (table, bucket) with the query — the join key is (table, bucket),
    * so the shuffle is bucket-local and NEVER all-pairs. Exact cosine
    * re-scoring on the candidate set only. `s_lsh_ann` — hash-checked:
    * the DuckDB oracle recomputes the [[hpComponent]] hyperplanes, sign
    * buckets, bucket join and rescoring bit-for-bit (the sign test
    * `dot > 0` agrees because both engines fold the 64 doubles in
    * element order). ScalaTest additionally asserts recall vs the
    * brute-force baseline. */
  def lshAnn(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame =
    lshAnnOnV(vectors(spark, dir).localCheckpoint(true), nQueries, k)

  /** [[lshAnn]] over a caller-checkpointed vectors frame (the
    * [[lazyLadder]] shared-input seam — see [[cosineTopKOnV]]). */
  private[graft] def lshAnnOnV(v: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val b = buckets(v).localCheckpoint(true)
    // dedup candidates on the (query, candidate) ID pair FIRST — a
    // distinct over rows carrying the vectors would shuffle the payload;
    // the vectors are re-attached to the deduped pairs afterwards.
    val qb = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val candIds = qb.join(b, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val cand = candIds
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn")),
        Seq("query_id"))
      .join(v, Seq("vec_id"))
    val scored = cand.withColumn("cos_sim",
      round(arrayDot(col("qv"), col("v")) / (col("qn") * col("norm")), 4))
    rankTopK(scored, k)
  }

  /** Radius (range) search: every LSH-CANDIDATE vector with rounded
    * cosine ≥ `minCos` to a query — top-k's sibling, the shape dedup
    * sweeps and recall-at-threshold evaluations ask for ("give me ALL
    * near matches", not the best k). Like every LSH-bucketed plan,
    * recall is < 1 and bounded by the [[NumTables]]-table union: a
    * true neighbor sharing no (table, bucket) with the query is
    * missed. Candidates come from the shared LSH (table, bucket)
    * exactly as [[lshAnn]] — the query side is the bounded set, the
    * shuffle is bucket-local — and survivors are
    * rescored exactly, then THRESHOLDED instead of ranked: no window,
    * no heap, the output is as big as the data says (at 100 TB the
    * result set scales with true neighbour density, which is the
    * operator's contract). `s_range_search`. */
  def rangeSearch(spark: SparkSession, dir: String, nQueries: Int = 10,
                  minCos: Double = 0.3): DataFrame = {
    val v = vectors(spark, dir).localCheckpoint(true)
    val b = buckets(v).localCheckpoint(true)
    val qb = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val candIds = qb.join(b, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    candIds
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn")), Seq("query_id"))
      .join(v, Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor"),
        round(arrayDot(col("qv"), col("v")) / (col("qn") * col("norm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .orderBy(col("query_id"), col("neighbor"))
  }

  // ---- maximum-inner-product search (MIPS) ---------------------------

  /** Exact MIPS top-k — retrieval by raw INNER PRODUCT instead of
    * cosine, the scoring a two-tower recommender / learned-retrieval
    * embedding space asks for (the towers are trained against the dot
    * product, and vector NORM carries signal — popularity, confidence —
    * that cosine normalizes away, so the two rankings genuinely
    * differ). Same plan shape as [[cosineTopK]]: the bounded query set
    * broadcasts into one scan of the corpus (no shuffle of the big
    * side), scores through the native [[graft.functions
    * .ArrayDotProduct]], ranked on the 4-dp rounded value with vec_id
    * tiebreak via the [[graft.plans.TopKPerGroup]] heap — at 100 TB
    * this is the per-partition-heap top-k, never a global sort.
    * `s_mips_topk`. */
  def mipsTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
               k: Int = 5): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("ip", round(arrayDot(col("qv"), col("v")), 4))
    graft.plans.TopKPerGroup.rankTopK(scored, Seq("query_id"),
        Seq("ip" -> true, "vec_id" -> false), k)
      .select(col("query_id"), col("vec_id").as("neighbor"), col("ip"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Disjoint LCG stream offset for the [[mipsAnn]] hyperplanes — the
    * augmented space must not reuse the [[hpComponent]] planes (its
    * first [[Dim]] components would correlate the two indexes). */
  private val MipsSeedBase = 100000L

  /** MIPS index shape — deliberately SHALLOWER and WIDER than the
    * cosine index ([[BitsPerTable]]/[[NumTables]]): the augmentation
    * compresses similarities (augmented cosine = ip/(‖q‖·M), and every
    * corpus vector is pushed toward the augmentation pole), so the
    * per-bit collision probability of a TRUE top-ip neighbour is far
    * below the ~0.85 of a 0.9-cosine twin — at 8 bits/table the
    * per-table hit rate collapses to a few percent (measured recall@5
    * 0.34). 4 bits × 8 tables plus radius-1 query multi-probe lands
    * at measured recall@5 0.86 on the driver corpus: buckets are
    * coarser and each query probes (1 + bits) buckets per table, so
    * the exact-rescore candidate set grows — the correct side of the
    * trade for a SCREEN whose rescore is one codegen'd dot product,
    * and the knob a 100 TB deployment re-tunes per corpus-norm
    * distribution (bits up as |bucket| grows, probes down as tables
    * multiply). */
  private val MipsBitsPerTable = 4
  private val MipsNumTables = 8

  /** [[hpComponent]]'s LCG on the (Dim+1)-dim AUGMENTED space. */
  private def mipsHpComponent(t: Int, j: Int, d: Int): Double = {
    val i = MipsSeedBase + ((t.toLong * MipsBitsPerTable + j) * (Dim + 1) + d) + 1L
    ((1103515245L * i + 12345L) % HpMod).toDouble / HpMod.toDouble - 0.5
  }

  private val mipsHyperplanes: IndexedSeq[IndexedSeq[Array[Double]]] =
    IndexedSeq.tabulate(MipsNumTables)(t => IndexedSeq.tabulate(MipsBitsPerTable)(j =>
      Array.tabulate(Dim + 1)(d => mipsHpComponent(t, j, d))))

  /** Per-vector LSH buckets in the augmented space — [[buckets]] with
    * the [[mipsHyperplanes]]; `va` must be the (Dim+1)-dim vector. */
  private def mipsBuckets(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      posexplode(signLshBuckets(col("va"), mipsHyperplanes))
        .as(Seq("table", "bucket")))

  /** Norm bands for [[mipsAnn]] — the RangeLSH refinement (Yan et al.
    * 2018, "Norm-ranging LSH for maximum inner product search"): a
    * GLOBAL max-norm augmentation crushes every small-norm vector
    * toward the augmentation pole (its appended component dominates),
    * so true top-ip neighbours sit at wide augmented angles and sign-
    * bit recall collapses. Partitioning the corpus into norm bands and
    * augmenting each band by ITS OWN max keeps the appended component
    * small relative to the vector, so augmented angles track
    * inner-product order much more tightly. The driver corpus is
    * unit-normalized (norm spread ~1e-7), so banding is measured as a
    * NO-OP there — recall on that corpus comes from the multi-probe
    * below — but a real two-tower corpus has norm spread (that is
    * the point of MIPS), and banding is what keeps the reduction
    * usable on it. Bands are fixed fractions of the global max —
    * deterministic, one 1-row and one B-row broadcast, no quantile
    * sort. */
  private val MipsNormBands = 4

  /** Approximate MIPS top-k via the NORM-AUGMENTATION reduction
    * (Bachrach et al. 2014, "Speeding up the Xbox recommender system
    * using a Euclidean transformation for inner-product spaces"; the
    * asymmetric-LSH family of Shrivastava & Li 2014), with
    * [[MipsNormBands]] norm-range banding: append √(Mb² − ‖x‖²) to
    * every corpus vector (Mb = the vector's norm-band max) and a
    * literal 0 to every query — inner-product order becomes cosine
    * order in the augmented space (within a band all augmented
    * vectors share norm Mb, and the appended query component kills
    * the correction term), so the sign-hyperplane LSH applies
    * unchanged; the band only changes the augmentation GEOMETRY, the
    * bucket join stays one (table, bucket) equi-join across all bands
    * — bucket-local shuffle, never all-pairs. Candidates are rescored
    * with the EXACT unaugmented inner product. The global and
    * per-band maxima are 1-row/B-row aggregates broadcast into the
    * corpus map (the dangling-mass idiom, not a collect). The oracle
    * replays the band split, the augmentation arithmetic (both
    * engines run the identical IEEE ops), the [[mipsHpComponent]] LCG
    * planes, sign buckets, bucket join and rescore. ScalaTest
    * additionally asserts recall vs [[mipsTopK]]. `s_mips_ann`. */
  def mipsAnn(spark: SparkSession, dir: String, nQueries: Int = 10,
              k: Int = 5): DataFrame = {
    val v = vectors(spark, dir).localCheckpoint(true)
    val mx = v.agg(max(col("norm")).as("gmax"))
    val banded = v.crossJoin(broadcast(mx))
      .withColumn("band",
        least(lit(MipsNormBands - 1),
          floor(col("norm") / col("gmax") * MipsNormBands)).cast("int"))
    val bmax = banded.groupBy(col("band")).agg(max(col("norm")).as("mnorm"))
    val aug = banded.join(broadcast(bmax), Seq("band"))
      .withColumn("va", concat(col("v"),
        array(sqrt(greatest(lit(0d),
          col("mnorm") * col("mnorm") - arrayDot(col("v"), col("v")))))))
    val cb = mipsBuckets(aug).localCheckpoint(true)
    // query-side MULTI-PROBE (Lv et al. 2007): each query probes its
    // own bucket plus every radius-1 bucket (one sign bit flipped) in
    // each table — (1 + bits) probes/table on the QUERY side only, so
    // the corpus index stays one row per (vector, table) and the
    // probe fan-out rides the bounded query set, not the corpus.
    val qb = mipsBuckets(
        v.filter(col("vec_id") < nQueries)
          .withColumn("va", concat(col("v"), array(lit(0d)))))
      .select(col("vec_id").as("query_id"), col("table"),
        explode(concat(array(col("bucket")),
          array((0 until MipsBitsPerTable)
            .map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*))).as("bucket"))
    val candIds = qb.join(cb, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val scored = candIds
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(v, Seq("vec_id"))
      .withColumn("ip", round(arrayDot(col("qv"), col("v")), 4))
    graft.plans.TopKPerGroup.rankTopK(scored, Seq("query_id"),
        Seq("ip" -> true, "vec_id" -> false), k)
      .select(col("query_id"), col("vec_id").as("neighbor"), col("ip"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---- IVF ANN (the other scale path) --------------------------------

  val NumLists = 16   // inverted lists (coarse centroids); ~√N at scale
  val NumProbe = 4    // lists probed per query (recall knob)

  /** IVF-flat approximate top-k: a coarse quantizer of [[NumLists]]
    * sampled centroids partitions the corpus into inverted lists; each
    * query probes its [[NumProbe]] nearest lists and re-scores exactly
    * only those lists' members.
    *
    * Spark-first shape: the centroid table is [[NumLists]] rows —
    * broadcast by construction — so assignment is a narrow map over the
    * corpus (no shuffle); the candidate join shuffles on the LIST id,
    * the inverted-list analogue of the LSH bucket key, and never forms
    * an all-pairs product. Centroids are the lowest-`vec_id` vectors
    * (deterministic sampling — the standard IVF practice of training on
    * a sample; Lloyd refinement would drop in here without changing the
    * search plan). Assignment and probe selection order by the 4-dp
    * ROUNDED cosine with a centroid-id tiebreak, so the DuckDB oracle
    * replays both bit-for-bit. `s_ivf_ann`. */
  def ivfAnn(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame =
    // NOT widened (r21 A/B: 0.50 → 0.80 s — on this cheap single-assign
    // key the added exchange costs more than the serial stage it cures;
    // the PQ-family keys, where the win is real, widen in their entries)
    ivfAnnOnV(vectors(spark, dir).localCheckpoint(true), nQueries, k)

  /** [[ivfAnn]] over a caller-checkpointed vectors frame (the
    * [[lazyLadder]] shared-input seam — see [[cosineTopKOnV]]). */
  private[graft] def ivfAnnOnV(v: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val c = v.filter(col("vec_id") < NumLists)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val simToC = round(arrayDot(col("v"), col("cv")) / (col("norm") * col("cn")), 4)
    // struct-max = (best sim, then lowest cid): one map-side-combined agg
    // nearest-list argmax through the native top-1 heap (the struct-max
    // fallback external-sorts past 128 groups/task — top1PerGroup)
    val assign = graft.plans.TopKPerGroup.top1PerGroup(
        v.join(broadcast(c))
          .select(col("vec_id"), col("cid"), simToC.as("sim")),
        Seq("vec_id"), Seq("sim" -> true, "cid" -> false))
      .select(col("vec_id"), col("cid"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val probes = q.join(broadcast(c))
      .withColumn("sim", round(arrayDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rn") <= NumProbe)
      .select(col("query_id"), col("cid"))
    // every vector sits in exactly one list and probed lists are
    // distinct, so (query, candidate) pairs are unique — no dedup needed
    val candIds = probes.join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val cand = candIds
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn")),
        Seq("query_id"))
      .join(v, Seq("vec_id"))
    val scored = cand.withColumn("cos_sim",
      round(arrayDot(col("qv"), col("v")) / (col("qn") * col("norm")), 4))
    rankTopK(scored, k)
  }

  // ---- mutual-kNN graph (full-corpus LSH self-join) -------------------

  /** Per-(table, bucket) membership cap for [[knnGraph]]'s self-join.
    * Unbounded, a COLLAPSED bucket — exactly what a near-duplicate-heavy
    * corpus hashes to — is C(n, 2) candidate pairs from a single key;
    * capped, every bucket is ≤ C(cap, 2) regardless of skew. 64 keeps
    * ~all buckets intact at test scale (mean bucket size ≈ 2) while
    * bounding the worst key at 2016 pairs. */
  val KnnBucketCap = 64

  /** Hash-ranked ≤`cap` sample of each (table, bucket)'s members — the
    * [[graft.graph.Clouds.cappedCandidates]] idiom ported onto the LSH
    * bucket key. Bucket-salted rank (hash of table|bucket|vec_id):
    * a globally hash-small vector must not win a slot in EVERY bucket
    * it lands in, or the sample correlates across tables and the
    * L-table union loses its independent-trials recall. Runs through
    * the native [[graft.plans.TopKPerGroup]] heap (map-side partial
    * bounds the shuffle at cap rows per bucket per input partition).
    * Factored out so the spec can plant a collapsed bucket and assert
    * the bound structurally. */
  private[graft] def cappedBuckets(b: DataFrame, cap: Int): DataFrame =
    graft.plans.TopKPerGroup.rankTopK(
        b.withColumn("hkey", graft.Hashing.hash60(
          concat_ws("|", col("table"), col("bucket"), col("vec_id")))),
        Seq("table", "bucket"), Seq("hkey" -> false, "vec_id" -> false), cap)
      .select(col("vec_id"), col("table"), col("bucket"))

  /** Candidate pairs from the ≤cap-sampled buckets (canonical a < b,
    * deduped across tables). Separated from [[knnGraph]] for the spec's
    * synthetic-skew drive. */
  private[graft] def knnCandidates(b: DataFrame, cap: Int): DataFrame = {
    val bc = cappedBuckets(b, cap)
    bc.as("x")
      .join(bc.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
  }

  /** Mutual-kNN graph over the WHOLE corpus — the ANN-graph build step
    * (kNN-graph construction feeds HNSW/NN-descent indexing, graph
    * clustering, and semantic-dedup sweeps). Unlike the fixed-query
    * ANN entries, every vector is a query here, so this is the one
    * similarity op whose candidate generation is the full LSH
    * SELF-join: pairs meet only in a shared (table, bucket) — shuffle
    * on the bucket key, never all-pairs — with bucket membership
    * capped at [[KnnBucketCap]] hash-ranked members
    * ([[cappedBuckets]]), so a collapsed bucket degrades recall
    * gracefully instead of going quadratic. The cap's containment
    * guarantee is on CANDIDATES: capped candidate pairs ⊆ uncapped
    * candidate pairs, and every surviving pair carries its EXACT
    * cosine (full-vector rescore). The final mutual-edge set is NOT
    * necessarily a subset of the uncapped graph — removing candidates
    * can promote lower-scored neighbors into a node's top-k — which is
    * why the spec measures recall on the planted mega-group rather
    * than asserting edge containment. Survivor pairs are then
    * rescored exactly, each unordered pair scored ONCE, fanned
    * to both directions, ranked per source through the native
    * [[graft.plans.TopKPerGroup]] heap, and kept only if MUTUAL (each
    * endpoint ranks the other in its own top-k — the standard
    * symmetrization that prunes hub-attracted one-way edges). Output:
    * one canonical (src < dst) row per mutual edge. The DuckDB oracle
    * replays the cap (same salted hash rank), so the hash gate proves
    * the capped plan, not the happy path. `s_knn_graph`. */
  /** Exact rescore of canonical (a < b) candidate pairs + per-source
    * directed top-k — the kNN-graph state both [[knnGraph]] and an
    * NN-descent round produce from their respective candidate sets.
    * Each unordered pair is scored ONCE, fanned to both directions,
    * ranked through the native [[graft.plans.TopKPerGroup]] heap. */
  private def scoreAndRank(v: DataFrame, cand: DataFrame, k: Int,
      nKnown: Long = -1L): DataFrame = {
    val scored = rescorePairs(v, cand, nKnown)
      .localCheckpoint(true) // both union branches below read it
    val directed = scored.select(col("a").as("src"), col("b").as("dst"), col("cos_sim"))
      .union(scored.select(col("b").as("src"), col("a").as("dst"), col("cos_sim")))
    graft.plans.TopKPerGroup.rankTopK(directed, Seq("src"),
        Seq("cos_sim" -> true, "dst" -> false), k)
      .select(col("src"), col("dst"), col("cos_sim"))
  }

  /** Mutual filter + canonicalization over a directed top-k list: keep
    * (src, dst) only if each endpoint ranks the other in its own top-k,
    * one canonical src < dst row per surviving edge. */
  private def mutualize(topkIn: DataFrame): DataFrame = {
    val topk = topkIn.localCheckpoint(true) // semi-join probe + build
    // the input's plan roots in scoreAndRank's internal `scored`
    // checkpoint — superseded by the eager copy above, release it
    graft.graph.Algorithms.releaseIterate(topkIn)
    topk
      .join(topk.select(col("src").as("m_dst"), col("dst").as("m_src")),
        col("src") === col("m_src") && col("dst") === col("m_dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .orderBy(col("src"), col("dst"))
  }

  def knnGraph(spark: SparkSession, dir: String, k: Int = 5,
               cap: Int = KnnBucketCap): DataFrame = {
    val v = vectors(spark, dir).localCheckpoint(true)
    // count the checkpointed blocks ONCE and thread it into the rescore
    // broadcast gate (r17 verdict task 1 — no per-helper re-scan)
    val n = v.count()
    val b = buckets(v).localCheckpoint(true)
    val out = mutualize(scoreAndRank(v, knnCandidates(b, cap), k, n))
    // the mutual edge set is checkpoint-rooted: the vector and index
    // pins are dead
    graft.graph.Algorithms.releaseIterate(v)
    graft.graph.Algorithms.releaseIterate(b)
    out
  }

  /** One NN-DESCENT refinement round over the capped kNN graph (Dong
    * et al., WWW 2011 — the published kNN-graph-construction practice:
    * "a neighbor of a neighbor is likely a neighbor"): candidates =
    * the LSH-seeded directed top-k's edges PLUS every wedge pair — two
    * vectors sharing any graph neighbor, in either direction — exactly
    * rescored and re-ranked per source through the same heap, mutual
    * filter last. This recovers precisely what the bucket cap costs:
    * two near-duplicates sampled into DIFFERENT (table, bucket)
    * survivors still share graph neighbors, so the wedge pass
    * re-candidates them without any unbounded bucket product.
    *
    * Scale shape: the symmetrized neighbor list has ≤ 2k rows per
    * node, so the wedge self-join is keyed on the shared-neighbor id
    * with a ≤ C(2k, 2) per-key product — n·2k² candidates total,
    * bounded by construction (no cap needed, unlike the LSH bucket
    * join it refines). One extra keyed shuffle + one rescore pass per
    * round. `s_nn_descent`. */
  def nnDescentGraph(spark: SparkSession, dir: String, k: Int = 5,
                     cap: Int = KnnBucketCap): DataFrame = {
    val v = vectors(spark, dir).localCheckpoint(true)
    // one count feeds BOTH rounds' rescore gates (pre-r18 each round
    // re-counted the identical checkpointed frame)
    val n = v.count()
    val b = buckets(v).localCheckpoint(true)
    val baseRaw = scoreAndRank(v, knnCandidates(b, cap), k, n)
    val base = baseRaw.localCheckpoint(true) // und (×2) + pair carry-over
    graft.graph.Algorithms.releaseIterate(baseRaw) // scored pin superseded
    val und = base.select(col("src").as("u"), col("dst").as("nb"))
      .union(base.select(col("dst").as("u"), col("src").as("nb"))).distinct()
      .localCheckpoint(true) // both sides of the wedge join
    val wedges = und.as("e1")
      .join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.nb") < col("e2.nb"))
      .select(col("e1.nb").as("a"), col("e2.nb").as("b"))
    val cand = wedges
      .union(base.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")))
      .distinct()
    val out = mutualize(scoreAndRank(v, cand, k, n))
    // out is checkpoint-rooted (mutualize) — every intermediate pin of
    // the seed round and the wedge pass is dead
    Seq(v, b, base, und).foreach(graft.graph.Algorithms.releaseIterate)
    out
  }

  // ---- product quantization (PQ-ADC) ---------------------------------

  val NumSub = 32   // subspaces (m): 64 dims → 32 × 2
  val SubDim = Dim / NumSub
  val PqK = 64      // codewords per subspace (6 bits x 32 subspaces =
                    // 192-bit codes, ~10.7x compression). Re-tuned in r9
                    // from (m=4, k=8): the 12-bit codes were the recall
                    // ceiling, not the plan. Measured trained recall@5
                    // sweep on the fixture corpus: (4,16) 0.24, (8,16)
                    // 0.26, (16,16) 0.30, (16,64) 0.32, (32,16) 0.36,
                    // (16,256) 0.42 (but training could no longer beat
                    // its half-corpus-sized seed), (32,64) 0.44 — these
                    // near-random synthetic embeddings need ~2 bits/dim
                    // before ADC error drops under the rank-5/rank-20
                    // cosine gap (~0.08), so finer partitioning beats
                    // wider codebooks at equal code size
  val PqIters = 3   // per-subspace Lloyd passes (measured at (32,64):
                    // recall@5 0.40 sampled seed → 0.44 trained)

  /** Codebook TRAINING sample bound: Lloyd passes run over the
    * lowest-id [[PqTrainSample]] vectors only (the deterministic-
    * sampling idiom shared with the IVF centroids), the published PQ
    * practice — codebooks train on ~10⁵ sampled vectors regardless of
    * corpus size, so at 100 TB training cost is O(sample) while
    * encoding remains the corpus-wide narrow map. At toy SF the ×3
    * cost of training over the untrained codebook is the fixed
    * per-round action tax (2 extra Lloyd cycles), not data volume —
    * the sample's payoff is at scale, where full-corpus training would
    * be `iters` extra passes over everything. */
  val PqTrainSample = 2048L

  /** Per-vector sub-vector slices: (vec_id, s, vs) — the PQ working
    * table, shared by training, encoding and distance tables. Slices
    * are cut from the L2-NORMALIZED vector (spherical PQ): the ADC sum
    * then approximates the full inner product of unit vectors — i.e.
    * the COSINE the operators rank by. Encoding raw vectors instead
    * leaves a norm bias in the ADC ranking that no codebook resolution
    * can remove (a no-op on this corpus, whose synthetic embeddings
    * are already unit-norm, but the operator must not depend on that).
    * Each component is one IEEE division by the norm, so the DuckDB
    * oracle replays it exactly. */
  private def pqSlices(v: DataFrame): DataFrame = {
    val unit = v.select(col("vec_id"),
      transform(col("v"), x => x / col("norm")).as("v"))
    val sliceStructs = (0 until NumSub).map(s =>
      struct(lit(s).as("s"), slice(col("v"), s * SubDim + 1, SubDim).as("vs")))
    unit.select(col("vec_id"), explode(array(sliceStructs: _*)).as("sl"))
      .select(col("vec_id"), col("sl.s").as("s"), col("sl.vs").as("vs"))
  }

  /** Lloyd-trained PQ codebook: the [[kmeans]] kernel run PER SUBSPACE
    * (grouping key gains `s`; metric is the 4-dp ROUNDED dot — the same
    * scoring [[pqAnn]] encodes with, so training optimizes what search
    * uses). Seeds are the lowest-id sub-vectors; `iters = 1` is the
    * seed itself (the pre-r8 sampled codebook, kept reachable for the
    * recall A/B in the spec). Means are DECIMAL(28,14)-exact, so the
    * DuckDB oracle unrolls the identical passes bit-for-bit. Codewords
    * that lose all members drop out in both engines alike. */
  private[graft] def pqCodebook(allSlices: DataFrame, iters: Int): DataFrame = {
    val slices = allSlices.filter(col("vec_id") < PqTrainSample)
    var cb = slices.filter(col("vec_id") < PqK)
      .select(col("s"), col("vec_id").as("cid"), col("vs").as("cvs"))
      .localCheckpoint(true)
    for (_ <- 1 until iters) {
      // nearest-codeword argmax through the native top-1 heap (the
      // struct-max fallback external-sorts past 128 groups/task)
      val assign = graft.plans.TopKPerGroup.top1PerGroup(
          slices.join(broadcast(cb), Seq("s"))
            .select(col("vec_id"), col("s"),
              round(arrayDot(col("vs"), col("cvs")), 4).as("sim"), col("cid")),
          Seq("vec_id", "s"), Seq("sim" -> true, "cid" -> false))
        .select(col("vec_id"), col("s"), col("cid"))
      val comp = assign.join(slices, Seq("vec_id", "s"))
        .select(col("s"), col("cid"), posexplode(col("vs")).as(Seq("d", "x")))
      val means = comp.groupBy(col("s"), col("cid"), col("d"))
        .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
          count(lit(1))).as("m"))
      val newCb = means.groupBy(col("s"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          t => t.getField("m")).as("cvs"))
        .localCheckpoint(true) // NumSub×PqK rows, trivial
      graft.graph.Algorithms.releaseIterate(cb)
      cb = newCb
    }
    cb
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the COMPRESSED-SCAN path (Jégou et al., TPAMI 2011): each vector is
    * encoded as [[NumSub]] codeword ids (192 bits here vs 64×32-bit
    * floats — the compression that lets a 100 TB corpus's index fit in
    * cluster memory); a query scores every encoded vector with table
    * lookups instead of full dot products, then exactly rescores its
    * top-k. PQ does NOT prune the scan (that is [[ivfAnn]]'s job — IVF
    * lists of PQ codes is the classic composition); it makes each
    * scanned row ~m lookups.
    *
    * Spark-first shape: the codebook ([[NumSub]]×[[PqK]] codewords,
    * Lloyd-trained per subspace by [[pqCodebook]]) and the per-query distance
    * table (nQueries×m×[[PqK]] rows) are bounded → both broadcast, so
    * encoding and ADC scoring are narrow maps; the only wide exchanges
    * are the encode argmax groupBy and the per-(query, vector) ADC sum,
    * both keyed and map-side combined, and the final top-k runs through
    * the native [[graft.plans.TopKPerGroup]] heap.
    *
    * Cross-engine determinism: codeword assignment = argmax of the 4-dp
    * ROUNDED sub-vector dot with a codeword-id tiebreak (the kmeans/IVF
    * pattern; dot not cosine — sub-norms add a division for no ranking
    * benefit on these spherical embeddings); distance-table entries are
    * 4-dp-rounded doubles summed as DECIMAL(18,4) (order-independent),
    * cast to double once. `s_pq_ann`. */
  def pqAnn(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
            iters: Int = PqIters): DataFrame = {
    val v = Layout.widen(vectors(spark, dir), "vec_id").localCheckpoint(true)
    val slices = pqSlices(v).localCheckpoint(true) // training + encode + dt
    pqAnnOn(v, slices, pqCodebook(slices, iters), nQueries, k)
  }

  /** [[pqAnn]] over caller-supplied (checkpointed vectors, checkpointed
    * slices, trained codebook) — the [[lazyLadder]] shared-input seam:
    * inside the ladder the SAME codebook training (and slices pass)
    * feeds both the PQ and IVF×PQ families instead of running twice. */
  private[graft] def pqAnnOn(v: DataFrame, slices: DataFrame, cb: DataFrame,
                             nQueries: Int, k: Int): DataFrame = {
    // nearest-codeword argmax through the native top-1 heap: the
    // struct-max ObjectHashAggregate external-sorts past 128 groups
    // per task (graft.plans.TopKPerGroup.top1PerGroup); same row
    val enc = graft.plans.TopKPerGroup.top1PerGroup(
        slices.join(broadcast(cb), Seq("s"))
          .select(col("vec_id"), col("s"),
            round(arrayDot(col("vs"), col("cvs")), 4).as("sim"), col("cid")),
        Seq("vec_id", "s"), Seq("sim" -> true, "cid" -> false))
      .select(col("vec_id"), col("s"), col("cid").as("code"))
    val dt = slices.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("s"), col("vs").as("qs"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("cid").as("code"),
        round(arrayDot(col("qs"), col("cvs")), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("d"))
    val score = enc.join(broadcast(dt), Seq("s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("double").as("adc_score"))
    val top = graft.plans.TopKPerGroup.rankTopK(score, Seq("query_id"),
      Seq("adc_score" -> true, "vec_id" -> false), k)
    top
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn")), Seq("query_id"))
      .join(v, Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor"), col("adc_score"),
        round(arrayDot(col("qv"), col("v")) / (col("qn") * col("norm")), 4).as("cos_sim"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---- IVF×PQ (pruned compressed scan) --------------------------------

  /** IVF×PQ — the classic composition the PQ paper builds (Jégou et
    * al., TPAMI 2011, §V): the coarse quantizer prunes the SCAN to the
    * [[NumProbe]] probed inverted lists, and PQ compresses each scanned
    * row to [[NumSub]] table lookups — at 100 TB the only rows that ever
    * leave the parquet scan are probed-list members, and they move as
    * 192-bit codes, not 256-byte vectors. Encodes unit-normalized
    * vectors (not
    * residuals — spherical embeddings gain little from residual
    * encoding and raw codes share [[pqAnn]]'s codebook + oracle replay).
    *
    * Spark-first shape: coarse centroids and probe selection are
    * [[ivfAnn]]'s (broadcast [[NumLists]] rows, narrow-map assignment);
    * the codebook is [[pqCodebook]]'s Lloyd-trained broadcast; the
    * candidate restriction joins the probed (query, list) pairs to the
    * list assignment BEFORE touching the m-row-per-vector code table,
    * so the ADC sum's shuffle carries only probed candidates. Exact
    * top-k rescore, [[pqAnn]]'s output shape. `s_ivfpq_ann`. */
  def ivfPqAnn(spark: SparkSession, dir: String, nQueries: Int = 10,
               k: Int = 5): DataFrame = {
    val v = Layout.widen(vectors(spark, dir), "vec_id").localCheckpoint(true)
    val slices = pqSlices(v).localCheckpoint(true)
    ivfPqAnnOn(v, slices, pqCodebook(slices, PqIters), nQueries, k)
  }

  /** [[ivfPqAnn]] over caller-supplied (vectors, slices, codebook) —
    * the [[lazyLadder]] shared-input seam (see [[pqAnnOn]]). */
  private[graft] def ivfPqAnnOn(v: DataFrame, slices: DataFrame, cb: DataFrame,
                                nQueries: Int, k: Int): DataFrame = {
    // coarse quantizer (identical to ivfAnn's)
    val c = v.filter(col("vec_id") < NumLists)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val simToC = round(arrayDot(col("v"), col("cv")) / (col("norm") * col("cn")), 4)
    // nearest-list argmax through the native top-1 heap (the struct-max
    // fallback external-sorts past 128 groups/task — top1PerGroup)
    val assign = graft.plans.TopKPerGroup.top1PerGroup(
        v.join(broadcast(c))
          .select(col("vec_id"), col("cid"), simToC.as("sim")),
        Seq("vec_id"), Seq("sim" -> true, "cid" -> false))
      .select(col("vec_id"), col("cid"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val probes = q.join(broadcast(c))
      .withColumn("sim", round(arrayDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rn") <= NumProbe)
      .select(col("query_id"), col("cid"))
    val candIds = probes.join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    // PQ side (identical to pqAnn's; slices + codebook are parameters)
    // nearest-codeword argmax through the native top-1 heap: the
    // struct-max ObjectHashAggregate external-sorts past 128 groups
    // per task (graft.plans.TopKPerGroup.top1PerGroup); same row
    val enc = graft.plans.TopKPerGroup.top1PerGroup(
        slices.join(broadcast(cb), Seq("s"))
          .select(col("vec_id"), col("s"),
            round(arrayDot(col("vs"), col("cvs")), 4).as("sim"), col("cid")),
        Seq("vec_id", "s"), Seq("sim" -> true, "cid" -> false))
      .select(col("vec_id"), col("s"), col("cid").as("code"))
    val dt = slices.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("s"), col("vs").as("qs"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("cid").as("code"),
        round(arrayDot(col("qs"), col("cvs")), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("d"))
    // scan restriction FIRST: only probed-list members reach the ADC sum
    val score = candIds.join(enc, Seq("vec_id"))
      .join(broadcast(dt), Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("double").as("adc_score"))
    val top = graft.plans.TopKPerGroup.rankTopK(score, Seq("query_id"),
      Seq("adc_score" -> true, "vec_id" -> false), k)
    top
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn")), Seq("query_id"))
      .join(v, Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor"), col("adc_score"),
        round(arrayDot(col("qv"), col("v")) / (col("qn") * col("norm")), 4).as("cos_sim"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---- spherical k-means (Lloyd) -------------------------------------

  val KmeansK = 8       // clusters
  val KmeansIters = 5   // assignment passes (centroid updates = Iters − 1)

  /** Spherical k-means over the embeddings: [[KmeansIters]] Lloyd passes
    * from the deterministic seed (lowest-`vec_id` vectors — the same
    * sampling [[ivfAnn]] uses; this IS the "Lloyd refinement drops in
    * here" path for IVF centroid training). Returns the final
    * assignment (vec_id, cluster_id, sim).
    *
    * Spark-first shape: centroids are K rows — broadcast by
    * construction — so each assignment pass is a narrow map over the
    * corpus (argmax over K broadcast rows, no shuffle); the update is
    * ONE shuffle keyed on (cluster, dimension). At 100 TB: K grows to
    * ~√N, the broadcast stays MBs, and the update shuffle moves only
    * K×Dim aggregates.
    *
    * Cross-engine determinism (what makes the oracle replay bit-exact):
    * assignment ranks the 4-dp ROUNDED cosine with a centroid-id
    * tiebreak (the IVF pattern), and centroid means go through
    * DECIMAL(28,14) sums — exact and order-independent, unlike double
    * addition — divided by the member count in double at the end.
    * Clusters that lose all members drop out in both engines alike. */
  def kmeans(spark: SparkSession, dir: String,
             k: Int = KmeansK, iters: Int = KmeansIters): DataFrame =
    kmeansWithCentroids(spark, dir, k, iters)._2.orderBy(col("vec_id"))

  /** [[kmeans]] exposing its working state — (checkpointed vectors,
    * final assignment, final centroids) — so downstream evaluations
    * ([[silhouette]]) reuse the SAME converged state instead of
    * re-running Lloyd passes. */
  private def kmeansWithCentroids(spark: SparkSession, dir: String,
                                  k: Int = KmeansK, iters: Int = KmeansIters)
      : (DataFrame, DataFrame, DataFrame) = {
    // NOT widened (r21 A/B: s_kmeans 1.67 → 2.34, s_silhouette +39%,
    // s_cluster_purity +22% — 5 Lloyd rounds of 32-partition heap
    // partials cost more stage overhead than the 1-task assign saved)
    val v = vectors(spark, dir).localCheckpoint(true)
    var cent = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
      .localCheckpoint(true)
    def assignTo(c: DataFrame): DataFrame =
      // nearest-centroid argmax through the native top-1 heap (the
      // struct-max fallback external-sorts past 128 groups/task); the
      // vector column is projected away BEFORE the heap — the heap
      // carries whole rows, and unlike an aggregate no column pruning
      // saves it from shuffling the 64-double array per candidate
      graft.plans.TopKPerGroup.top1PerGroup(
          v.crossJoin(broadcast(c))
            .select(col("vec_id"), col("cid"),
              round(arrayDot(col("v"), col("cv")) / (col("norm") * col("cn")), 4)
                .as("sim")),
          Seq("vec_id"), Seq("sim" -> true, "cid" -> false))
        .select(col("vec_id"), col("cid").as("cluster_id"), col("sim"))
    var assign = assignTo(cent)
    for (_ <- 1 until iters) {
      // per-(cluster, dimension) decimal-exact mean, re-packed into the
      // centroid vector ordered by dimension
      val comp = assign.join(v, Seq("vec_id"))
        .select(col("cluster_id").as("cid"), posexplode(col("v")).as(Seq("d", "x")))
      val means = comp.groupBy(col("cid"), col("d"))
        .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
          count(lit(1))).as("m"))
      val newCent = means.groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          s => s.getField("m")).as("cv"))
        .withColumn("cn", sqrt(arrayDot(col("cv"), col("cv"))))
        .localCheckpoint(true) // 5-round lineage stays flat; K rows, trivial
      graft.graph.Algorithms.releaseIterate(cent) // superseded centroid blocks
      cent = newCent
      assign = assignTo(cent)
    }
    (v, assign, cent)
  }

  /** Simplified (centroid-based) silhouette per cluster — the scalable
    * clustering-quality report (Rousseeuw 1987's silhouette needs the
    * O(n²) pairwise matrix; the standard large-scale variant measures
    * each point against CENTROIDS instead, O(n·k)): a(i) = cosine
    * distance to the own-cluster centroid, b(i) = min distance to any
    * other centroid, s(i) = (b−a)/max(a,b). Emits per-cluster member
    * count and mean a / b / silhouette — near-zero or negative means
    * the cluster is not separated (its points sit as close to a rival
    * centroid as to their own).
    *
    * Exactness: the k sims per point are round-4 (the [[kmeans]]
    * contract), so a and b are exact IEEE `1 − sim` doubles and s is
    * one deterministic division rounded to 6; means are DECIMAL-exact
    * sums divided once. Plan: one broadcast(k rows) cross join over
    * the checkpointed vectors + two keyed aggregates — the same shape
    * as a Lloyd assignment pass, nothing is O(n²). `s_silhouette`. */
  def silhouette(spark: SparkSession, dir: String,
                 k: Int = KmeansK, iters: Int = KmeansIters): DataFrame = {
    val (v, assign, cent) = kmeansWithCentroids(spark, dir, k, iters)
    val sims = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        round(arrayDot(col("v"), col("cv")) / (col("norm") * col("cn")), 4)
          .as("sim"))
    val ab = sims
      .join(assign.select(col("vec_id"), col("cluster_id")), Seq("vec_id"))
      .groupBy(col("vec_id"), col("cluster_id"))
      .agg(max(when(col("cid") === col("cluster_id"), lit(1.0) - col("sim")))
        .as("da"),
        min(when(col("cid") =!= col("cluster_id"), lit(1.0) - col("sim")))
          .as("db"))
    val s = when(greatest(col("da"), col("db")) > 0,
      round((col("db") - col("da")) / greatest(col("da"), col("db")), 6))
      .otherwise(lit(0.0))
    ab.select(col("cluster_id"), col("da"), col("db"), s.as("s"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("da").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_a"),
        (sum(col("db").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_b"),
        (sum(col("s").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_silhouette"))
      .orderBy(col("cluster_id"))
  }

  /** Clustering-quality evaluation against the corpus' gold `label`
    * column: per cluster, the member count, the majority label (argmax
    * via max(struct(count, −label)) — the single-shuffle idiom, ties to
    * the smallest label), and purity = majority count / cluster size.
    * The eval every embedding-space curation step (semantic dedup,
    * topic balancing) runs to sanity-check its k-means stage. Two
    * bounded aggregates over the assignment — the cost IS the k-means
    * kernel it audits. All counts integer-exact; the one division is
    * the final ratio. `s_cluster_purity`. */
  def clusterPurity(spark: SparkSession, dir: String,
                    k: Int = KmeansK, iters: Int = KmeansIters): DataFrame = {
    val byLabel = kmeans(spark, dir, k, iters)
      .select(col("vec_id"), col("cluster_id"))
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label")), Seq("vec_id"))
      .groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    byLabel.groupBy(col("cluster_id"))
      .agg(sum(col("cnt")).as("n_members"),
        max(struct(col("cnt"), (-col("label")).as("neglab"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.neglab")).as("majority_label"),
        col("best.cnt").as("majority_cnt"),
        round(col("best.cnt").cast("double") / col("n_members"), 4).as("purity"))
      .orderBy(col("cluster_id"))
  }

  /** ANN-recall evaluation over the FULL index ladder: recall@k of
    * every approximate index family — LSH ([[lshAnn]]), IVF-flat
    * ([[ivfAnn]]), PQ-ADC ([[pqAnn]]), IVF×PQ ([[ivfPqAnn]]) — against
    * the exact brute-force top-k ([[cosineTopK]]), per (family, query)
    * — the index-quality report every ANN deployment tracks (the
    * recall-vs-cost trade is THE tuning axis, and one operator output
    * makes the whole ladder observable at any SF instead of only in
    * specs). One plan per family: true top-k LEFT-joined to that
    * family's approximate top-k on (query, neighbor), hits counted per
    * query; the truth is checkpointed once and shared by all four
    * joins. n_true is always k; recall = n_hit / k. `s_ann_recall`. */
  /** Cut points for [[recallCurve]] — prefixes of the shared top-5
    * ranking, so ONE run per index family yields the whole curve. */
  val RecallKs: Seq[Int] = Seq(1, 3, 5)

  /** Recall@k CURVE per ANN index family — [[annRecall]] fixed at one
    * k answers "is the index sane"; the curve answers the TUNING
    * question ("how much k must I over-fetch for recall X"), which is
    * what an index rollout actually decides on. Because every family's
    * top-5 is RANKED on a total order, recall@k for each k ≤ 5 falls
    * out of the SAME single run per family: a truth pair at rank ≤ k
    * is hit iff its approx rank is also ≤ k — prefix logic, zero extra
    * index probes. One aggregated row per (family, k).
    * `s_recall_curve`. */
  /** Materialized ANN-AUDIT layer — the shared substrate of the ladder
    * audits: the ranked brute-force truth plus all four index
    * families' ranked top-k, each computed and checkpointed ONCE.
    * [[annRecall]] and [[recallCurve]] are both joins over exactly
    * these five ranked lists; as independent registry keys each
    * materializes the layer itself (so registry semantics are
    * unchanged), but a production index rollout materializes it once
    * and fans it out to every audit — the [[graft.pipeline.Dedup
    * .dedupClusters]] / [[graft.graph.Clouds.forestLayer]]
    * shared-layer contract. `SimilaritySpec`'s composition test
    * certifies both audits agree bit-for-bit whether they run on a
    * shared layer or rebuild it. Entry 0 is the truth; entries 1..4
    * the families in report order. */
  def ladderLayer(spark: SparkSession, dir: String,
                  nQueries: Int = 10, k: Int = 5): Seq[(String, DataFrame)] = Seq(
    "truth" -> cosineTopK(spark, dir, nQueries, k).localCheckpoint(true),
    "lsh"   -> lshAnn(spark, dir, nQueries, k).localCheckpoint(true),
    "ivf"   -> ivfAnn(spark, dir, nQueries, k).localCheckpoint(true),
    "pq"    -> pqAnn(spark, dir, nQueries, k).localCheckpoint(true),
    "ivfpq" -> ivfPqAnn(spark, dir, nQueries, k).localCheckpoint(true))

  /** The LAZY ladder: truth checkpointed (shared by all four joins in
    * one query), families unmaterialized — so Catalyst/AQE keep the
    * cross-family exchange reuse (ivf and ivfpq share the centroid
    * assignment, pq and ivfpq the codebooks) that separate
    * materialization forfeits (measured: eager per-family checkpoints
    * cost s_ann_recall ~+3.5 s min at sf0.1). The registry entries run
    * THIS shape; [[ladderLayer]] is the materialize-once production
    * contract, and the composition spec proves both agree. */
  private def lazyLadder(spark: SparkSession, dir: String,
                         nQueries: Int, k: Int): Seq[(String, DataFrame)] = {
    // r20: ONE vectors checkpoint, ONE slices checkpoint and ONE
    // codebook training shared by every family through the *On seams —
    // the family keys run standalone each rebuild their own, but inside
    // one ladder query the four families were re-scanning and
    // re-materializing the identical vectors table (4×), slicing it
    // twice and Lloyd-training the identical codebook twice. Values
    // are unchanged (same math on the same rows), so the oracle SQL
    // replays bit-for-bit.
    val v = Layout.widen(vectors(spark, dir), "vec_id").localCheckpoint(true)
    val slices = pqSlices(v).localCheckpoint(true)
    val cb = pqCodebook(slices, PqIters)
    Seq(
      "truth" -> cosineTopKOnV(v, nQueries, k).localCheckpoint(true),
      "lsh"   -> lshAnnOnV(v, nQueries, k),
      "ivf"   -> ivfAnnOnV(v, nQueries, k),
      "pq"    -> pqAnnOn(v, slices, cb, nQueries, k),
      "ivfpq" -> ivfPqAnnOn(v, slices, cb, nQueries, k))
  }

  def recallCurve(spark: SparkSession, dir: String,
                  nQueries: Int = 10, k: Int = 5): DataFrame =
    recallCurveOn(lazyLadder(spark, dir, nQueries, k))

  /** [[recallCurve]] over a caller-materialized [[ladderLayer]]. */
  def recallCurveOn(layer: Seq[(String, DataFrame)]): DataFrame = {
    val truth = layer.head._2
      .select(col("query_id"), col("neighbor"), col("rnk").as("trank"))
    def fam(name: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("neighbor"),
            col("rnk").as("arank")),
          Seq("query_id", "neighbor"), "left_outer")
        .select(col("trank"), col("arank"),
          explode(array(RecallKs.map(x => lit(x)): _*)).as("k"))
        .groupBy(col("k"))
        .agg(sum(when(col("trank") <= col("k"), 1L).otherwise(0L))
          .as("n_true"),
          // a NULL arank (never retrieved) falls to the otherwise-0 arm
          sum(when(col("trank") <= col("k") && col("arank") <= col("k"), 1L)
            .otherwise(0L)).as("n_hit"))
        .select(lit(name).as("family"), col("k"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 4).as("recall"))
    layer.tail.map { case (name, approx) => fam(name, approx) }
      .reduce(_ unionByName _)
      .orderBy(col("family"), col("k"))
  }

  def annRecall(spark: SparkSession, dir: String,
                nQueries: Int = 10, k: Int = 5): DataFrame =
    annRecallOn(lazyLadder(spark, dir, nQueries, k))

  /** [[annRecall]] over a caller-materialized [[ladderLayer]]. */
  def annRecallOn(layer: Seq[(String, DataFrame)]): DataFrame = {
    val truth = layer.head._2.select(col("query_id"), col("neighbor"))
    def fam(name: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("neighbor"), lit(1L).as("hit")),
          Seq("query_id", "neighbor"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(lit(name).as("family"), col("query_id"), col("n_true"),
          col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 4).as("recall"))
    layer.tail.map { case (name, approx) => fam(name, approx) }
      .reduce(_ unionByName _)
      .orderBy(col("family"), col("query_id"))
  }

  // ---- semantic dedup (SemDeDup) --------------------------------------

  /** SemDeDup Lloyd passes / duplicate threshold. */
  val SemIters = 2
  val SemTau = 0.4

  /** Cluster count for [[semanticDedup]], scaled FROM THE CORPUS:
    * k = max(16, ⌈2·√n⌉) — the paper's k ≈ c·√n shape, which keeps the
    * expected cluster size at √n/2 so the within-cluster pair product
    * k·C(n/k, 2) grows as n^1.5, not n². Both engines compute the
    * identical IEEE double √/⌈⌉, so the DuckDB oracle derives the same
    * k from COUNT(*) (scalar subquery in the seed CTE). */
  private[graft] def semK(n: Long): Int =
    math.max(16, math.ceil(2.0 * math.sqrt(n.toDouble)).toInt)

  /** Witness cap for [[semanticDedup]]'s within-cluster comparison: the
    * x-side of the pair join is each cluster's [[SemClusterCap]]
    * LOWEST-id members only, so the pair product is ≤ n·cap even when
    * k-means collapses a near-duplicate-heavy corpus into one
    * mega-cluster (precisely the dedup workload). Lowest-id — not a
    * hash sample — because the keep-first rule's surviving
    * representative IS the lowest id: in the mega near-dup cluster
    * every member matches witness #1, so the capped recall loss
    * concentrates on the rare y similar ONLY to mid-id cluster-mates.
    * Precision stays 1 (every drop carries an exact lower-id witness;
    * capped drops ⊆ exact drops). */
  val SemClusterCap = 128

  /** The capped within-cluster drop set (DISTINCT y ids): x-side =
    * ≤`cap` lowest-id members per cluster through the native
    * [[graft.plans.TopKPerGroup]] heap, y-side = the whole cluster.
    * Factored out so the spec can plant a mega-cluster and assert the
    * pair bound + exact-witness property structurally. `av` columns:
    * (vec_id, cluster_id, v, norm). */
  private[graft] def semanticDropped(av: DataFrame, tau: Double, cap: Int): DataFrame = {
    val witnesses = graft.plans.TopKPerGroup.rankTopK(
        av.select(col("vec_id"), col("cluster_id")),
        Seq("cluster_id"), Seq("vec_id" -> false), cap)
      .select(col("vec_id"), col("cluster_id"))
      .join(av.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
    witnesses.as("x")
      .join(av.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(round(arrayDot(col("x.v"), col("y.v")) /
        (col("x.norm") * col("y.norm")), 4) >= tau)
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embeddings, compare pairs ONLY within a cluster, and drop every
    * vector whose rounded cosine to a LOWER-id cluster-mate reaches
    * `tau` (the paper's keep-the-first rule — no transitive closure, so
    * no CC loop). Composes the Lloyd kernel ([[kmeans]]) with one
    * cluster-key self-join: the join shuffles on cluster_id only, the
    * cluster count scales with the corpus ([[semK]]), and the
    * per-cluster pair product is HARD-bounded by [[SemClusterCap]]
    * lowest-id witnesses ([[semanticDropped]]) so a mega-cluster
    * degrades linearly, not quadratically. The DuckDB oracle replays
    * both the derived k and the witness cap. Output: every vector with
    * its cluster and keep flag. `d_semantic_dedup`.
    *
    * `k` ≤ 0 (the default) derives the cluster count from the corpus
    * size; pass an explicit k to pin it (tests, tuning). NOTE: the
    * default runs one `count()` job EAGERLY at DataFrame-construction
    * time — plan shape (the cluster count) must be fixed before the
    * plan is built, the same derive-structure-from-data trade
    * [[Dedup.shuffleIndex]] makes. The count is a metadata-cheap
    * parquet row-count scan; callers composing lazily should pass a
    * precomputed k. */
  def semanticDedup(spark: SparkSession, dir: String, k: Int = 0,
                    iters: Int = SemIters, tau: Double = SemTau,
                    cap: Int = SemClusterCap): DataFrame = {
    val kk = if (k > 0) k else semK(Tables.embeddings(spark, dir).count())
    val assign = kmeans(spark, dir, kk, iters)
      .select(col("vec_id"), col("cluster_id"))
      .localCheckpoint(true) // Lloyd ran once; reused by join + output
    val av = assign.join(vectors(spark, dir), Seq("vec_id"))
      .select(col("vec_id"), col("cluster_id"), col("v"), col("norm"))
      .localCheckpoint(true) // both sides of the pair self-join
    val dropped = semanticDropped(av, tau, cap)
    assign
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster_id"), col("hit").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  // ---- oracles -------------------------------------------------------

  private val VecCte =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"""

  /** [[kmeans]] unrolled to `iters` assignment CTEs: a1 from the seed
    * centroids c0, then (update, assign) pairs. The decimal-exact means
    * are what license the unroll — every centroid component is
    * bit-identical in both engines, so each ROUND(cos, 4) argmax
    * decision replays exactly. */
  /** The Lloyd unroll as a CTE PRELUDE ending in the assignment CTE
    * `a<iters>` — shared by the kmeans oracle and anything that builds
    * on the trained assignment (SemDeDup). `kExpr` is a SQL expression
    * for the cluster count — a literal for the pinned kmeans entry, a
    * COUNT(*)-derived scalar subquery for SemDeDup's corpus-scaled k
    * (replaying [[semK]]). */
  private def kmeansCtePrelude(kExpr: String, iters: Int): String = {
    def assign(i: Int) =
      s"""a$i AS MATERIALIZED (
         SELECT vec_id, cid AS cluster_id, sim FROM (
           SELECT e.vec_id, c.cid,
                  ROUND(list_cosine_similarity(e.v, c.cv), 4) AS sim,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                             c.cid) AS rn
           FROM e CROSS JOIN c${i - 1} c) WHERE rn = 1)"""
    def update(i: Int) =
      s"""s$i AS (
           SELECT a.cluster_id AS cid, dd.d,
                  CAST(SUM(CAST(e.v[dd.d + 1] AS DECIMAL(28,14))) AS DOUBLE)
                    / COUNT(*) AS m
           FROM a$i a JOIN e USING (vec_id), dims dd
           GROUP BY a.cluster_id, dd.d),
         c$i AS (SELECT cid, list(m ORDER BY d) AS cv FROM s$i GROUP BY cid)"""
    val steps = (assign(1) +:
      (2 to iters).flatMap(i => Seq(update(i - 1), assign(i)))).mkString(",\n")
    s"""$VecCte,
       dims AS (SELECT unnest(range($Dim)) AS d),
       c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < ($kExpr)),
       $steps"""
  }

  private def kmeansOracle(k: Int, iters: Int): String =
    s"""${kmeansCtePrelude(k.toString, iters)}
       SELECT vec_id, cluster_id, sim FROM a$iters ORDER BY vec_id"""

  /** [[semK]] replayed in SQL: both engines take the identical IEEE
    * sqrt/ceil, so the derived k matches the Spark side's `count()`. */
  private val SemKSql =
    "SELECT GREATEST(16, CAST(CEIL(2 * SQRT(COUNT(*))) AS BIGINT)) FROM e"

  /** [[pqCodebook]] unrolled to CTEs ending in `cb(s, cid, cvs)` —
    * seed cb0 then (assign, mean, rebuild) per Lloyd pass; expects a
    * `slices(vec_id, s, vs)` CTE upstream. Decimal-exact means license
    * the unroll (identical codeword doubles in both engines). */
  private def pqCodebookCtes(iters: Int): String = {
    val seed =
      s"cb0 AS (SELECT s, vec_id AS cid, vs AS cvs FROM slices WHERE vec_id < $PqK)"
    val train =
      s"tsl AS (SELECT * FROM slices WHERE vec_id < $PqTrainSample)"
    val steps = (1 until iters).map { i =>
      s"""pa$i AS (
           SELECT vec_id, s, cid FROM (
             SELECT sl.vec_id, sl.s, cb.cid,
                    ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.s
                      ORDER BY ROUND(list_dot_product(sl.vs, cb.cvs), 4) DESC,
                               cb.cid) AS rn
             FROM tsl sl JOIN cb${i - 1} cb USING (s)) WHERE rn = 1),
         ps$i AS (
           SELECT a.s, a.cid, dd.d,
                  CAST(SUM(CAST(sl.vs[dd.d + 1] AS DECIMAL(28,14))) AS DOUBLE)
                    / COUNT(*) AS m
           FROM pa$i a JOIN tsl sl ON sl.vec_id = a.vec_id AND sl.s = a.s,
                sdims dd
           GROUP BY a.s, a.cid, dd.d),
         cb$i AS (SELECT s, cid, list(m ORDER BY d) AS cvs FROM ps$i GROUP BY s, cid)"""
    }
    ((s"sdims AS (SELECT unnest(range($SubDim)) AS d)" +: train +: seed +: steps) :+
      s"cb AS (SELECT * FROM cb${iters - 1})").mkString(",\n")
  }

  /** Replay of [[hpComponent]] + [[buckets]] as a CTE pair `hp`, `bk` —
    * shared by the LSH ANN and kNN-graph oracles. */
  private val LshBucketsCte: String =
    s"""hp AS (
         SELECT t.t, j.j,
                list_transform(range($Dim), d ->
                  CAST((CAST(1103515245 AS BIGINT) *
                        ((t.t * $BitsPerTable + j.j) * $Dim + d + 1) + 12345)
                       % $HpMod AS DOUBLE)
                  / CAST($HpMod AS DOUBLE) - 0.5) AS h
         FROM (SELECT unnest(range($NumTables)) AS t) t,
              (SELECT unnest(range($BitsPerTable)) AS j) j),
       bk AS (
         SELECT e.vec_id, hp.t AS tbl,
                CAST(SUM(CASE WHEN list_dot_product(e.v, hp.h) > 0
                              THEN CAST(1 AS BIGINT) << hp.j
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         FROM e CROSS JOIN hp GROUP BY e.vec_id, hp.t)"""

  /** LSH bucket-probe approximate top-k ending in `lshranked` — shared
    * by the s_lsh_ann oracle and the per-family recall audit. Requires
    * [[VecCte]] (`e`) and [[LshBucketsCte]] (`bk`) in scope. */
  private val LshRankedCtes: String =
    s"""lshcand AS (
         SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
         WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       lshscored AS (
         SELECT lshcand.query_id, lshcand.vec_id AS neighbor,
                ROUND(list_cosine_similarity(q.v, e.v), 4) AS cos_sim
         FROM lshcand JOIN e q ON q.vec_id = lshcand.query_id
         JOIN e ON e.vec_id = lshcand.vec_id),
       lshranked AS (
         SELECT query_id, neighbor, cos_sim,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor) AS BIGINT) AS rnk
         FROM lshscored)"""

  /** IVF coarse-quantizer chain (centroids → assignment → probes →
    * candidates → exact rescoring) ending in `ivfranked` — shared by
    * s_ivf_ann, the ivfpq candidate restriction, and the recall audit.
    * Requires [[VecCte]] in scope. */
  private val IvfCtes: String =
    s"""ivc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $NumLists),
       ivassign AS (
         SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cid) AS rn
           FROM e CROSS JOIN ivc c) WHERE rn = 1),
       ivq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       ivprobes AS (
         SELECT query_id, cid FROM (
           SELECT q.query_id, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cid) AS rn
           FROM ivq q CROSS JOIN ivc c) WHERE rn <= $NumProbe),
       ivcand AS (
         SELECT p.query_id, a.vec_id FROM ivprobes p JOIN ivassign a ON a.cid = p.cid
         WHERE a.vec_id <> p.query_id),
       ivfscored AS (
         SELECT ivcand.query_id, ivcand.vec_id AS neighbor,
                ROUND(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
         FROM ivcand JOIN ivq q ON q.query_id = ivcand.query_id
         JOIN e ON e.vec_id = ivcand.vec_id),
       ivfranked AS (
         SELECT query_id, neighbor, cos_sim,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor) AS BIGINT) AS rnk
         FROM ivfscored)"""

  /** PQ chain (subvector slices → Lloyd codebook → codes → query
    * distance tables → ADC scan) ending in `pqranked` plus
    * `ivfpqranked` (the same ADC scan restricted to the IVF-probed
    * candidates) — shared by s_pq_ann / s_ivfpq_ann and the recall
    * audit. Requires [[VecCte]] and [[IvfCtes]] in scope (ivfpqranked
    * reads `ivcand`). */
  private def PqRankedCtes: String =
    s"""sub AS (SELECT unnest(range($NumSub)) AS s),
       nv AS (
         SELECT vec_id,
                list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
         FROM e),
       slices AS (
         SELECT vec_id, sub.s,
                v[sub.s*$SubDim + 1 : sub.s*$SubDim + $SubDim] AS vs
         FROM nv, sub),
       ${pqCodebookCtes(PqIters)},
       pqenc AS (
         SELECT vec_id, s, cid AS code FROM (
           SELECT sl.vec_id, sl.s, cb.cid,
                  ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.s
                    ORDER BY ROUND(list_dot_product(sl.vs, cb.cvs), 4) DESC,
                             cb.cid) AS rn
           FROM slices sl JOIN cb USING (s)) WHERE rn = 1),
       pqdt AS (
         SELECT q.vec_id AS query_id, q.s, cb.cid AS code,
                CAST(ROUND(list_dot_product(q.vs, cb.cvs), 4)
                     AS DECIMAL(18,4)) AS d
         FROM slices q JOIN cb USING (s) WHERE q.vec_id < 10),
       pqscore AS (
         SELECT pqdt.query_id, pqenc.vec_id,
                CAST(SUM(pqdt.d) AS DOUBLE) AS adc_score
         FROM pqenc JOIN pqdt ON pqdt.s = pqenc.s AND pqdt.code = pqenc.code
         WHERE pqenc.vec_id <> pqdt.query_id
         GROUP BY pqdt.query_id, pqenc.vec_id),
       pqranked AS (
         SELECT query_id, vec_id AS neighbor, adc_score,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_score DESC, vec_id) AS BIGINT) AS rnk
         FROM pqscore),
       ipqscore AS (
         SELECT ivcand.query_id, ivcand.vec_id,
                CAST(SUM(pqdt.d) AS DOUBLE) AS adc_score
         FROM ivcand
         JOIN pqenc ON pqenc.vec_id = ivcand.vec_id
         JOIN pqdt ON pqdt.query_id = ivcand.query_id
                AND pqdt.s = pqenc.s AND pqdt.code = pqenc.code
         GROUP BY ivcand.query_id, ivcand.vec_id),
       ivfpqranked AS (
         SELECT query_id, vec_id AS neighbor, adc_score,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_score DESC, vec_id) AS BIGINT) AS rnk
         FROM ipqscore)"""

  /** CTE chain of the capped kNN-graph build through the DIRECTED
    * per-source top-5 list `tk` (pre-mutual) — shared by the kNN-graph
    * and NN-descent oracles; replays the [[cappedBuckets]] salted rank
    * so both green rows prove the capped plan. */
  private def KnnTkCtes: String =
    s"""$VecCte,
       $LshBucketsCte,
       bkc AS (
         SELECT vec_id, tbl, bucket FROM (
           SELECT vec_id, tbl, bucket,
                  ROW_NUMBER() OVER (PARTITION BY tbl, bucket
                    ORDER BY ${graft.Hashing.hexFoldSql(
                      "CAST(tbl AS VARCHAR) || '|' || CAST(bucket AS VARCHAR)" +
                        " || '|' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
           FROM bk) WHERE rn <= $KnnBucketCap),
       cand AS (
         SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM bkc x JOIN bkc y
           ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       sc AS (
         SELECT a, b, ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
         FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b),
       dir AS (
         SELECT a AS src, b AS dst, cos_sim FROM sc
         UNION ALL SELECT b, a, cos_sim FROM sc),
       rk AS (
         SELECT src, dst, cos_sim,
                ROW_NUMBER() OVER (PARTITION BY src
                  ORDER BY cos_sim DESC, dst) AS rn
         FROM dir),
       tk AS (SELECT src, dst, cos_sim FROM rk WHERE rn <= 5)"""

  val oracle: Map[String, String] = Map(
    "s_kmeans" -> kmeansOracle(KmeansK, KmeansIters),
    "s_silhouette" -> {
      val last = KmeansIters
      val cent = s"c${KmeansIters - 1}"
      s"""${kmeansCtePrelude(KmeansK.toString, KmeansIters)},
         sims AS (
           SELECT e.vec_id, c.cid,
                  ROUND(list_cosine_similarity(e.v, c.cv), 4) AS sim
           FROM e CROSS JOIN $cent c),
         ab AS (
           SELECT s.vec_id, a.cluster_id,
                  MAX(CASE WHEN s.cid = a.cluster_id
                           THEN 1.0 - s.sim END) AS da,
                  MIN(CASE WHEN s.cid <> a.cluster_id
                           THEN 1.0 - s.sim END) AS db
           FROM sims s JOIN a$last a USING (vec_id)
           GROUP BY s.vec_id, a.cluster_id),
         sil AS (
           SELECT cluster_id, da, db,
                  CASE WHEN GREATEST(da, db) > 0
                       THEN ROUND((db - da) / GREATEST(da, db), 6)
                       ELSE 0.0 END AS s
           FROM ab)
         SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
                CAST(SUM(CAST(da AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                  AS mean_a,
                CAST(SUM(CAST(db AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                  AS mean_b,
                CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                  AS mean_silhouette
         FROM sil GROUP BY cluster_id ORDER BY cluster_id"""
    },
    // the trained assignment CTE is shared with the kmeans oracle; the
    // argmax replays max(struct(cnt, -label)) as (cnt DESC, label) rank
    "s_cluster_purity" ->
      s"""${kmeansCtePrelude(KmeansK.toString, KmeansIters)},
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         cl AS (SELECT cluster_id, label, COUNT(*) AS cnt
                FROM a$KmeansIters JOIN lab USING (vec_id)
                GROUP BY cluster_id, label),
         tot AS (SELECT cluster_id, CAST(SUM(cnt) AS BIGINT) AS n_members
                 FROM cl GROUP BY cluster_id),
         maj AS (SELECT cluster_id, label AS majority_label,
                        CAST(cnt AS BIGINT) AS majority_cnt,
                        ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY cnt DESC, label) AS rn
                 FROM cl)
         SELECT m.cluster_id, t.n_members, m.majority_label, m.majority_cnt,
                ROUND(CAST(m.majority_cnt AS DOUBLE) / t.n_members, 4) AS purity
         FROM maj m JOIN tot t ON m.cluster_id = t.cluster_id
         WHERE m.rn = 1 ORDER BY m.cluster_id""",
    // truth = fresh brute-force top-k CTEs, approx = the shared LSH
    // bucket CTE ranked — both replayed verbatim, then the hit join
    // truth = fresh brute-force top-k; one approximate top-k per index
    // family from the SAME shared CTE chains the family oracles read —
    // the recall audit cannot drift from what the green family keys
    // certify
    "s_recall_curve" -> {
      val ks = RecallKs.mkString(", ")
      s"""$VecCte,
         $LshBucketsCte,
         $IvfCtes,
         $PqRankedCtes,
         $LshRankedCtes,
         bp AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor,
                  ROUND(list_cosine_similarity(q.v, c.v), 4) AS cos_sim
           FROM e q JOIN e c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         bt AS (
           SELECT query_id, neighbor, rn AS trank FROM (
             SELECT query_id, neighbor,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor) AS rn
             FROM bp) WHERE rn <= 5),
         ap AS (
           SELECT 'lsh' AS family, query_id, neighbor, rnk AS arank
           FROM lshranked WHERE rnk <= 5
           UNION ALL SELECT 'ivf', query_id, neighbor, rnk
           FROM ivfranked WHERE rnk <= 5
           UNION ALL SELECT 'pq', query_id, neighbor, rnk
           FROM pqranked WHERE rnk <= 5
           UNION ALL SELECT 'ivfpq', query_id, neighbor, rnk
           FROM ivfpqranked WHERE rnk <= 5),
         fams AS (SELECT unnest(['lsh', 'ivf', 'pq', 'ivfpq']) AS family),
         j AS (
           SELECT f.family, bt.trank, ap.arank
           FROM fams f CROSS JOIN bt
           LEFT JOIN ap ON ap.family = f.family
                       AND ap.query_id = bt.query_id
                       AND ap.neighbor = bt.neighbor),
         ks AS (SELECT unnest([$ks]) AS k)
         SELECT j.family, ks.k,
                CAST(SUM(CASE WHEN trank <= k THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_true,
                CAST(SUM(CASE WHEN trank <= k AND arank IS NOT NULL
                               AND arank <= k THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hit,
                ROUND(CAST(SUM(CASE WHEN trank <= k AND arank IS NOT NULL
                                     AND arank <= k THEN 1 ELSE 0 END)
                             AS DOUBLE) /
                      SUM(CASE WHEN trank <= k THEN 1 ELSE 0 END), 4)
                  AS recall
         FROM j CROSS JOIN ks
         GROUP BY j.family, ks.k ORDER BY j.family, ks.k"""
    },
    "s_ann_recall" ->
      s"""$VecCte,
         $LshBucketsCte,
         $IvfCtes,
         $PqRankedCtes,
         $LshRankedCtes,
         bp AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor,
                  ROUND(list_cosine_similarity(q.v, c.v), 4) AS cos_sim
           FROM e q JOIN e c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         bt AS (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor) AS rn
             FROM bp) WHERE rn <= 5),
         ap AS (
           SELECT 'lsh' AS family, query_id, neighbor
           FROM lshranked WHERE rnk <= 5
           UNION ALL SELECT 'ivf', query_id, neighbor
           FROM ivfranked WHERE rnk <= 5
           UNION ALL SELECT 'pq', query_id, neighbor
           FROM pqranked WHERE rnk <= 5
           UNION ALL SELECT 'ivfpq', query_id, neighbor
           FROM ivfpqranked WHERE rnk <= 5),
         fams AS (SELECT unnest(['lsh', 'ivf', 'pq', 'ivfpq']) AS family)
         SELECT f.family, bt.query_id,
                CAST(COUNT(*) AS BIGINT) AS n_true,
                CAST(COUNT(ap.neighbor) AS BIGINT) AS n_hit,
                ROUND(CAST(COUNT(ap.neighbor) AS DOUBLE) / COUNT(*), 4)
                  AS recall
         FROM fams f CROSS JOIN bt
         LEFT JOIN ap ON ap.family = f.family
                     AND ap.query_id = bt.query_id
                     AND ap.neighbor = bt.neighbor
         GROUP BY f.family, bt.query_id
         ORDER BY f.family, bt.query_id""",
    "d_semantic_dedup" ->
      s"""${kmeansCtePrelude(SemKSql, SemIters)},
         av AS (
           SELECT a.vec_id, a.cluster_id, e.v
           FROM a$SemIters a JOIN e USING (vec_id)),
         xw AS (
           SELECT vec_id, cluster_id, v FROM (
             SELECT vec_id, cluster_id, v,
                    ROW_NUMBER() OVER (PARTITION BY cluster_id
                                       ORDER BY vec_id) AS rn
             FROM av) WHERE rn <= $SemClusterCap),
         drp AS (
           SELECT DISTINCT y.vec_id
           FROM xw x JOIN av y
             ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
           WHERE ROUND(list_cosine_similarity(x.v, y.v), 4) >= $SemTau)
         SELECT a.vec_id, a.cluster_id, d.vec_id IS NULL AS keep
         FROM a$SemIters a LEFT JOIN drp d ON d.vec_id = a.vec_id
         ORDER BY a.vec_id""",
    "s_knn_graph" ->
      s"""$KnnTkCtes
         SELECT t.src, t.dst, t.cos_sim
         FROM tk t JOIN tk r ON r.src = t.dst AND r.dst = t.src
         WHERE t.src < t.dst ORDER BY t.src, t.dst""",
    // tk's edges + every wedge pair (shared graph neighbor, either
    // direction), exactly rescored and re-ranked — [[nnDescentGraph]]
    "s_nn_descent" ->
      s"""$KnnTkCtes,
         und AS (SELECT src AS u, dst AS nb FROM tk
                 UNION SELECT dst, src FROM tk),
         cand2 AS (
           SELECT DISTINCT e1.nb AS a, e2.nb AS b
           FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.nb < e2.nb
           UNION
           SELECT LEAST(src, dst), GREATEST(src, dst) FROM tk),
         sc2 AS (
           SELECT a, b, ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
           FROM cand2 JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b),
         dir2 AS (
           SELECT a AS src, b AS dst, cos_sim FROM sc2
           UNION ALL SELECT b, a, cos_sim FROM sc2),
         rk2 AS (
           SELECT src, dst, cos_sim,
                  ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY cos_sim DESC, dst) AS rn
           FROM dir2),
         tk2 AS (SELECT src, dst, cos_sim FROM rk2 WHERE rn <= 5)
         SELECT t.src, t.dst, t.cos_sim
         FROM tk2 t JOIN tk2 r ON r.src = t.dst AND r.dst = t.src
         WHERE t.src < t.dst ORDER BY t.src, t.dst""",
    "s_pq_ann" ->
      s"""$VecCte,
         $IvfCtes,
         $PqRankedCtes
         SELECT r.query_id, r.neighbor, r.adc_score,
                ROUND(list_cosine_similarity(qe.v, ne.v), 4) AS cos_sim, r.rnk
         FROM pqranked r
         JOIN e qe ON qe.vec_id = r.query_id
         JOIN e ne ON ne.vec_id = r.neighbor
         WHERE r.rnk <= 5
         ORDER BY query_id, rnk""",
    "s_ivfpq_ann" ->
      s"""$VecCte,
         $IvfCtes,
         $PqRankedCtes
         SELECT r.query_id, r.neighbor, r.adc_score,
                ROUND(list_cosine_similarity(qe.v, ne.v), 4) AS cos_sim, r.rnk
         FROM ivfpqranked r
         JOIN e qe ON qe.vec_id = r.query_id
         JOIN e ne ON ne.vec_id = r.neighbor
         WHERE r.rnk <= 5
         ORDER BY query_id, rnk""",
    // replays hpComponent: an LCG step per (table t, bit j, dim d),
    // mapped to [-0.5, 0.5) with the identical IEEE division
    "s_lsh_ann" ->
      s"""$VecCte,
         $LshBucketsCte,
         $LshRankedCtes
         SELECT query_id, neighbor, cos_sim, rnk FROM lshranked
         WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "s_range_search" ->
      s"""$VecCte,
         $LshBucketsCte,
         cand AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id
           FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
           WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
         SELECT cand.query_id, cand.vec_id AS neighbor,
                ROUND(list_cosine_similarity(q.v, e.v), 4) AS cos_sim
         FROM cand JOIN e q ON q.vec_id = cand.query_id
         JOIN e ON e.vec_id = cand.vec_id
         WHERE ROUND(list_cosine_similarity(q.v, e.v), 4) >= 0.3
         ORDER BY query_id, neighbor""",
    "d_embedding_neardup" ->
      s"""$VecCte,
         pairs AS (
           SELECT a.vec_id AS a, b.vec_id AS b,
                  ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT a, b, cos_sim FROM pairs WHERE cos_sim >= 0.4 ORDER BY a, b""",
    "s_linkage_census" -> {
      def cutCtes(tag: String, cos: String) =
        s"""und$tag AS (
             SELECT a AS u, b AS v FROM p WHERE cos >= $cos
             UNION ALL SELECT b, a FROM p WHERE cos >= $cos),
           r$tag(u, v) AS (
             SELECT vec_id, vec_id FROM e
             UNION
             SELECT r.u, d.v FROM r$tag r JOIN und$tag d ON d.u = r.v),
           c$tag AS (SELECT u AS id, MIN(v) AS comp FROM r$tag GROUP BY u),
           s$tag AS (SELECT comp, COUNT(*) AS sz FROM c$tag GROUP BY comp)"""
      def census(tag: String, cos: String) =
        s"""SELECT CAST($cos AS DOUBLE) AS min_cos,
              CAST(SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
              CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
              CAST(MAX(sz) AS BIGINT) AS largest_size,
              CAST(SUM(CASE WHEN sz >= 2 THEN sz ELSE 0 END) AS BIGINT) AS n_clustered
            FROM s$tag"""
      val cuts = Seq("30" -> "0.30", "35" -> "0.35", "40" -> "0.40")
      s"""${VecCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         p AS (
           SELECT a.vec_id AS a, b.vec_id AS b,
                  ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id),
         ${cuts.map { case (t, c) => cutCtes(t, c) }.mkString(",\n")}
         ${cuts.map { case (t, c) => census(t, c) }.mkString("\n UNION ALL ")}
         ORDER BY min_cos"""
    },
    "s_dbscan" ->
      s"""${VecCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         pairs AS (
           SELECT a.vec_id AS a, b.vec_id AS b
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= $DbscanEpsCos),
         sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         deg AS (SELECT a AS id, COUNT(*) AS n FROM sym GROUP BY a),
         cores AS (SELECT id FROM deg WHERE n + 1 >= $DbscanMinPts),
         ce AS (
           SELECT s.a, s.b FROM sym s
           JOIN cores x ON x.id = s.a JOIN cores y ON y.id = s.b),
         reach(u, v) AS (
           SELECT id, id FROM cores
           UNION
           SELECT r.u, c.b FROM reach r JOIN ce c ON c.a = r.v),
         comp AS (SELECT u AS id, MIN(v) AS comp FROM reach GROUP BY u),
         borders AS (
           SELECT s.a AS id, MIN(c.comp) AS cluster
           FROM sym s JOIN comp c ON c.id = s.b
           WHERE s.a NOT IN (SELECT id FROM cores)
           GROUP BY s.a)
         SELECT e.vec_id,
                CASE WHEN cp.comp IS NOT NULL THEN 'core'
                     WHEN b.cluster IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                COALESCE(cp.comp, b.cluster, -1) AS cluster
         FROM e
         LEFT JOIN comp cp ON cp.id = e.vec_id
         LEFT JOIN borders b ON b.id = e.vec_id
         ORDER BY vec_id""",
    "s_cosine_topk" ->
      s"""$VecCte,
         q AS (SELECT * FROM e WHERE vec_id < 10),
         pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor,
                  ROUND(list_cosine_similarity(q.v, c.v), 4) AS cos_sim
           FROM q JOIN e c ON c.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, neighbor, cos_sim,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor) AS BIGINT) AS rnk
           FROM pairs)
         SELECT query_id, neighbor, cos_sim, rnk FROM ranked
         WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "s_ivf_ann" ->
      s"""$VecCte,
         $IvfCtes
         SELECT query_id, neighbor, cos_sim, rnk FROM ivfranked
         WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "s_mips_topk" ->
      s"""$VecCte,
         q AS (SELECT * FROM e WHERE vec_id < 10),
         pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor,
                  ROUND(list_dot_product(q.v, c.v), 4) AS ip
           FROM q JOIN e c ON c.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, neighbor, ip,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ip DESC, neighbor) AS BIGINT) AS rnk
           FROM pairs)
         SELECT query_id, neighbor, ip, rnk FROM ranked
         WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "s_mips_ann" ->
      s"""$VecCte,
         mx AS (SELECT MAX(sqrt(list_dot_product(v, v))) AS gm FROM e),
         bd AS (
           SELECT vec_id, v,
                  LEAST($MipsNormBands - 1,
                        CAST(FLOOR(sqrt(list_dot_product(v, v)) / gm
                                   * $MipsNormBands) AS INT)) AS band
           FROM e CROSS JOIN mx),
         bm AS (
           SELECT band, MAX(sqrt(list_dot_product(v, v))) AS m
           FROM bd GROUP BY band),
         ag AS (
           SELECT vec_id,
                  list_append(v, sqrt(greatest(
                    0, m * m - list_dot_product(v, v)))) AS va
           FROM bd JOIN bm USING (band)),
         mhp AS (
           SELECT t.t, j.j,
                  list_transform(range(${Dim + 1}), d ->
                    CAST((CAST(1103515245 AS BIGINT) *
                          ($MipsSeedBase +
                           (t.t * $MipsBitsPerTable + j.j) * ${Dim + 1} + d + 1) +
                          12345)
                         % $HpMod AS DOUBLE)
                    / CAST($HpMod AS DOUBLE) - 0.5) AS h
           FROM (SELECT unnest(range($MipsNumTables)) AS t) t,
                (SELECT unnest(range($MipsBitsPerTable)) AS j) j),
         cbk AS (
           SELECT a.vec_id, mhp.t AS tbl,
                  CAST(SUM(CASE WHEN list_dot_product(a.va, mhp.h) > 0
                                THEN CAST(1 AS BIGINT) << mhp.j
                                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
           FROM ag a CROSS JOIN mhp GROUP BY a.vec_id, mhp.t),
         qag AS (
           SELECT vec_id, list_append(v, CAST(0 AS DOUBLE)) AS va
           FROM e WHERE vec_id < 10),
         qbk AS (
           SELECT a.vec_id, mhp.t AS tbl,
                  CAST(SUM(CASE WHEN list_dot_product(a.va, mhp.h) > 0
                                THEN CAST(1 AS BIGINT) << mhp.j
                                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
           FROM qag a CROSS JOIN mhp GROUP BY a.vec_id, mhp.t),
         qpr AS (
           SELECT vec_id, tbl,
                  CASE WHEN pr.p = 0 THEN bucket
                       ELSE xor(bucket, CAST(1 AS BIGINT) << (pr.p - 1))
                  END AS bucket
           FROM qbk CROSS JOIN
                (SELECT unnest(range(${MipsBitsPerTable + 1})) AS p) pr),
         cand AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id
           FROM qpr q JOIN cbk c ON q.tbl = c.tbl AND q.bucket = c.bucket
           WHERE c.vec_id <> q.vec_id),
         scored AS (
           SELECT cand.query_id, cand.vec_id AS neighbor,
                  ROUND(list_dot_product(q.v, e.v), 4) AS ip
           FROM cand JOIN e q ON q.vec_id = cand.query_id
           JOIN e ON e.vec_id = cand.vec_id),
         ranked AS (
           SELECT query_id, neighbor, ip,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ip DESC, neighbor) AS BIGINT) AS rnk
           FROM scored)
         SELECT query_id, neighbor, ip, rnk FROM ranked
         WHERE rnk <= 5 ORDER BY query_id, rnk""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_embedding_neardup" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d)),
    "s_dbscan"            -> ((s: SparkSession, d: String) => dbscan(s, d)),
    "s_linkage_census"    -> ((s: SparkSession, d: String) => linkageCensus(s, d)),
    "s_cosine_topk"       -> ((s: SparkSession, d: String) => cosineTopK(s, d)),
    "s_lsh_ann"           -> ((s: SparkSession, d: String) => lshAnn(s, d)),
    "s_range_search"      -> ((s: SparkSession, d: String) => rangeSearch(s, d)),
    "s_ivf_ann"           -> ((s: SparkSession, d: String) => ivfAnn(s, d)),
    "s_kmeans"            -> ((s: SparkSession, d: String) => kmeans(s, d)),
    "s_silhouette"        -> ((s: SparkSession, d: String) => silhouette(s, d)),
    "s_recall_curve"      -> ((s: SparkSession, d: String) => recallCurve(s, d)),
    "s_cluster_purity"    -> ((s: SparkSession, d: String) => clusterPurity(s, d)),
    "s_ann_recall"        -> ((s: SparkSession, d: String) => annRecall(s, d)),
    "s_pq_ann"            -> ((s: SparkSession, d: String) => pqAnn(s, d)),
    "s_ivfpq_ann"         -> ((s: SparkSession, d: String) => ivfPqAnn(s, d)),
    "s_knn_graph"         -> ((s: SparkSession, d: String) => knnGraph(s, d)),
    "s_nn_descent"        -> ((s: SparkSession, d: String) => nnDescentGraph(s, d)),
    "d_semantic_dedup"    -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    "s_mips_topk"         -> ((s: SparkSession, d: String) => mipsTopK(s, d)),
    "s_mips_ann"          -> ((s: SparkSession, d: String) => mipsAnn(s, d)),
  )
}
